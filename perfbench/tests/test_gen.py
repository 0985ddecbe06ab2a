import hashlib
import os

import pyarrow.parquet as pq

import gen
import oracle


def _digests(d):
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            out[t] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 2, seed=7)
    gen.generate(str(b), 2, seed=7)
    assert _digests(a) == _digests(b)


def test_other_seed_changes_row_order_not_rows(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    info = gen.generate(str(a), 2, seed=1)
    gen.generate(str(b), 2, seed=2)
    assert info["lineitem"]["rows"] == 2 * pq.read_metadata(
        os.path.join(gen.BASE_DIR, "lineitem.parquet")).num_rows
    ta = pq.read_table(a / "lineitem.parquet")
    tb = pq.read_table(b / "lineitem.parquet")
    assert not ta.equals(tb)  # physical order differs
    keys = [(c, "ascending") for c in ta.column_names]
    assert ta.sort_by(keys).equals(tb.sort_by(keys))  # same multiset of rows


def test_key_offsets_keep_product_ids(tmp_path):
    gen.generate(str(tmp_path), 3, seed=5)
    base = pq.read_table(os.path.join(gen.BASE_DIR, "lineitem.parquet"))
    rep = pq.read_table(tmp_path / "lineitem.parquet")
    pid = lambda t: sorted(k % 32 for k in t["l_orderkey"].to_pylist())  # noqa: E731
    assert pid(rep) == sorted(pid(base) * 3)
    assert rep["l_orderkey"].unique().to_pylist().__len__() == 3 * len(base["l_orderkey"].unique())


def test_other_seed_gives_same_oracle_results(tmp_path):
    from sarpro_spark.queries import REGISTRY, spark_queries

    spark_queries()
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 2, seed=3)
    gen.generate(str(b), 2, seed=4)
    for name in ("pricing_summary", "events_sessionize"):
        sql = REGISTRY[name].resolve_sql()
        ra = oracle.connect(str(a), gen.TABLES).execute(sql).fetch_arrow_table()
        rb = oracle.connect(str(b), gen.TABLES).execute(sql).fetch_arrow_table()
        assert oracle.compare(ra, rb)[0] == oracle.EXACT, name


def test_content_digest_depends_on_factor_only():
    assert gen.content_digest(2) == gen.content_digest(2)
    assert gen.content_digest(2) != gen.content_digest(3)
