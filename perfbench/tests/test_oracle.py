import pyarrow as pa
import pyarrow.parquet as pq

import oracle


def t(**cols):
    return pa.table(cols)


def test_order_insensitive_exact_match():
    a = t(k=[1, 2, 3], s=["x", "y", None], v=[0.5, 1.25, float("nan")])
    b = t(v=[1.25, float("nan"), 0.5], k=[2, 3, 1], s=["y", None, "x"])
    assert oracle.compare(a, b) == (oracle.EXACT, "")


def test_int_widths_and_hugeint_decimals_compare_equal():
    a = t(k=pa.array([1, 2], pa.int32()), n=pa.array([10, 20], pa.int64()))
    b = t(k=pa.array([1, 2], pa.int64()), n=pa.array([10, 20], pa.decimal128(38, 0)))
    assert oracle.compare(a, b)[0] == oracle.EXACT


def test_one_unit_in_last_rounded_digit_is_an_exact_mismatch_only():
    a = t(k=[1, 2], v=[1234.56, 10.5])
    b = t(k=[1, 2], v=[1234.57, 10.5])
    status, detail = oracle.compare(a, b)
    assert status == oracle.WITHIN_UNIT and "1 rows" in detail


def test_beyond_one_unit_is_an_error():
    a = t(k=[1, 2], v=[1234.56, 10.5])
    b = t(k=[1, 2], v=[1234.58, 10.5])
    assert oracle.compare(a, b)[0] == oracle.MISMATCH


def test_shape_and_key_differences_are_errors():
    assert oracle.compare(t(k=[1]), t(k=[1, 2]))[0] == oracle.MISMATCH
    assert oracle.compare(t(k=[1]), t(j=[1]))[0] == oracle.MISMATCH
    assert oracle.compare(t(k=[1, 2]), t(k=[1, 3]))[0] == oracle.MISMATCH
    assert oracle.compare(t(k=[1, None]), t(k=[1, 0]))[0] == oracle.MISMATCH


def test_decimals_inference():
    import numpy as np

    assert oracle.decimals(np.array([1.0, 2.0])) == 0
    assert oracle.decimals(np.array([1234.57, 0.1])) == 2
    assert oracle.decimals(np.array([0.123457])) == 6


def test_connect_reads_spark_style_part_directories(tmp_path):
    d = tmp_path / "lineitem.parquet"
    d.mkdir()
    pq.write_table(t(x=[1, 2]), d / "part-00000.parquet")
    pq.write_table(t(x=[3]), d / "part-00001.parquet")
    pq.write_table(t(y=[9]), tmp_path / "orders.parquet")
    con = oracle.connect(str(tmp_path), ("lineitem", "orders"))
    assert con.execute("SELECT sum(x) FROM lineitem").fetchone()[0] == 6
    assert con.execute("SELECT y FROM orders").fetchone()[0] == 9


def test_expected_is_cached_by_sql_text(tmp_path):
    pq.write_table(t(x=[1, 2, 3]), tmp_path / "lineitem.parquet")
    calls = []

    def factory():
        calls.append(1)
        return oracle.connect(str(tmp_path), ("lineitem",))

    cache = str(tmp_path / "cache")
    first = oracle.expected(factory, cache, "q", "SELECT sum(x) AS s FROM lineitem")
    again = oracle.expected(factory, cache, "q", "SELECT sum(x) AS s FROM lineitem")
    assert first.equals(again) and len(calls) == 1
    oracle.expected(factory, cache, "q", "SELECT max(x) AS s FROM lineitem")
    assert len(calls) == 2
