"""The benchmark's workloads: which registered queries, on which input.

Each workload is a fixed list of queries from the program's registry
(``sarpro_spark.queries.spark_queries()``) run on a ``factor``-fold seeded
replica of the sf0.01 tables (``gen.py``).  ``stage_frames`` workloads
materialise the shared raster staging table (``frames.band_frame``) at the
start of every pass; the others never read it.  ``warmup_passes`` passes
after the cold one are run but not measured: the JVM's JIT and the Python
workers keep speeding up for several passes.  A fixed number of measured
passes follows, so every run samples the same stretch of that curve.

``raster_batch`` and ``llm_curation`` are the two workloads BENCHMARK.json
declares (with why each was chosen).  ``relational_olap`` is the bypass
workload for the ``queries`` and ``pydaemon`` layers: no Python worker, and
execution is over 80% of a pass.  It is run by hand, because a third
workload's 22 runs do not fit the benchmark's total run budget.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    factor: int
    queries: tuple[str, ...]
    stage_frames: bool
    warmup_passes: int
    measured_passes: int


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="raster_batch",
            factor=5,
            queries=(
                "pipeline_kernel_standard_u8",
                "pipeline_kernel_clahe_u16",
                "pipeline_kernel_synrgb_default",
                "tiff_roundtrip",
            ),
            stage_frames=True,
            warmup_passes=3,
            measured_passes=4,
        ),
        Workload(
            name="llm_curation",
            factor=1,
            queries=(
                "dedup_minhash_verified",
                "dedup_cluster_components",
            ),
            stage_frames=False,
            warmup_passes=4,
            measured_passes=4,
        ),
        Workload(
            name="relational_olap",
            factor=12,
            queries=(
                "pricing_summary",
                "window_analytics_orders",
                "events_sessionize",
                "lineitem_quantile_sketch",
            ),
            stage_frames=False,
            warmup_passes=3,
            measured_passes=4,
        ),
    )
}
