"""The ``read_source`` memo: a local ``file()`` source read again
unchanged reuses its resolved DataFrame, and any change to the files
(stat fingerprint) is seen by the next query. Rows are never cached,
so every test here checks query results, not just memo counters."""

from __future__ import annotations

import re
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bighouse_spark import metrics
from bighouse_spark.dialect.transpile import transpile
from bighouse_spark.engine import BigHouseEngine
from bighouse_spark.sources import readers
from bighouse_spark.sources.readers import (
    SOURCE_MEMO_MAX_ENTRIES,
    read_source,
    source_memo_stats,
)


@pytest.fixture(scope="module")
def engine(spark):
    return BigHouseEngine(spark)


def _write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def _count(engine, src: str) -> int:
    return engine.execute(f"SELECT count() AS n FROM {src}").rows[0][0]


def test_unchanged_reread_is_a_hit(engine, spark, tmp_path):
    p = tmp_path / "t.parquet"
    _write(p, k=[1, 2, 3])
    hits, misses, _ = source_memo_stats(spark)
    assert _count(engine, f"file('{p}', Parquet)") == 3
    assert source_memo_stats(spark)[:2] == (hits, misses + 1)
    assert _count(engine, f"file('{p}', Parquet)") == 3
    assert source_memo_stats(spark)[:2] == (hits + 1, misses + 1)


# -- invalidation -----------------------------------------------------


def test_parquet_overwritten_in_place(engine, tmp_path):
    p = tmp_path / "t.parquet"
    _write(p, k=[1, 2, 3])
    assert _count(engine, f"file('{p}', Parquet)") == 3
    _write(p, k=[1, 2, 3, 4, 5], v=[5, 4, 3, 2, 1])
    out = engine.execute(f"SELECT * FROM file('{p}', Parquet) ORDER BY k")
    assert out.cols == ["k", "v"] and len(out.rows) == 5


def test_csv_appended_in_place(engine, tmp_path):
    # A stale listing keeps the old file length, so a reused plan
    # would read only the first rows.
    p = tmp_path / "d.csv"
    p.write_text("k\n1\n2\n")
    src = f"file('{p}', 'CSVWithNames', 'k UInt32')"
    assert _count(engine, src) == 2
    with open(p, "a") as f:
        f.write("".join(f"{i}\n" for i in range(3, 1001)))
    assert _count(engine, src) == 1000


def test_glob_sees_added_and_deleted_files(engine, tmp_path):
    src = f"file('file://{tmp_path}/*.parquet', Parquet)"
    _write(tmp_path / "a.parquet", k=[1, 2])
    _write(tmp_path / "b.parquet", k=[3])
    assert _count(engine, src) == 3
    _write(tmp_path / "c.parquet", k=[4, 5, 6, 7])
    assert _count(engine, src) == 7
    (tmp_path / "a.parquet").unlink()
    assert _count(engine, src) == 5


def test_insert_into_function_rewrite_is_seen(engine, tmp_path):
    out = str(tmp_path / "sink")
    src = f"file('{out}', Parquet)"
    engine.execute(
        f"INSERT INTO FUNCTION file('{out}', 'Parquet') "
        "SELECT id AS k FROM range(10)"
    )
    assert engine.execute(
        f"SELECT count() AS n, sum(k) AS s FROM {src}"
    ).rows == [[10, 45]]
    engine.execute(
        f"INSERT INTO FUNCTION file('{out}', 'Parquet') "
        "SELECT id AS k FROM range(100, 104)"
    )
    assert engine.execute(
        f"SELECT count() AS n, sum(k) AS s FROM {src}"
    ).rows == [[4, 406]]


def test_csv_schema_string_is_part_of_the_key(engine, tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("a,b\n1,2\n3,4\n")
    first = engine.execute(
        f"SELECT * FROM file('{p}', 'CSVWithNames', 'a UInt32, b UInt32') "
        "ORDER BY a"
    )
    second = engine.execute(
        f"SELECT * FROM file('{p}', 'CSVWithNames', 'x String, y Int64') "
        "ORDER BY x"
    )
    assert first.cols == ["a", "b"] and first.rows == [[1, 2], [3, 4]]
    assert second.cols == ["x", "y"] and second.rows == [["1", 2], ["3", 4]]


def test_schema_inference_conf_is_part_of_the_key(spark, tmp_path):
    p = tmp_path / "ns.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_001], pa.timestamp("ns"))}),
        str(p),
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "true")
        df = read_source(spark, str(p))
        assert df.dtypes == [("ts", "bigint")]
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_source(spark, str(p))
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_failed_read_is_not_memoized(engine, spark, tmp_path):
    p = tmp_path / "t.parquet"
    p.write_bytes(b"not a parquet file")
    entries = source_memo_stats(spark)[2]
    with pytest.raises(Exception):
        engine.execute(f"SELECT count() FROM file('{p}', Parquet)")
    assert source_memo_stats(spark)[2] == entries
    _write(p, k=[1, 2])
    assert _count(engine, f"file('{p}', Parquet)") == 2


def test_only_local_matching_paths_are_fingerprinted(tmp_path):
    _write(tmp_path / "a.parquet", k=[1])
    fp = readers._fingerprint
    assert fp([f"file://{tmp_path}/*.parquet"], True) is not None
    assert fp([f"{tmp_path}/a.parquet"], True) is not None
    assert fp([f"{tmp_path}/a.parquet"], False) is None  # non-local defaultFS
    assert fp(["s3a://bucket/a.parquet"], True) is None
    assert fp(["hdfs://nn/a.parquet"], True) is None
    assert fp([f"{tmp_path}/{{a,b}}.parquet"], True) is None
    assert fp([f"{tmp_path}/*.csv"], True) is None  # matches no file
    # names Spark's listing skips cannot change a directory read
    before = fp([str(tmp_path)], True)
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / ".a.parquet.crc").write_text("x")
    (tmp_path / "_temporary").mkdir()
    (tmp_path / "_temporary" / "b.parquet").write_text("x")
    assert fp([str(tmp_path)], True) == before
    (tmp_path / "k=1").mkdir()
    _write(tmp_path / "k=1" / "b.parquet", k=[2])
    assert fp([str(tmp_path)], True) != before


# -- sharing ----------------------------------------------------------


def test_self_join_over_one_memoized_relation(engine, spark, tmp_path):
    p = tmp_path / "t.parquet"
    _write(p, k=[1, 1, 2, 3], v=[10, 20, 30, 40])
    hits = source_memo_stats(spark)[0]
    out = engine.execute(
        f"SELECT a.k AS k, a.v AS av, b.v AS bv "
        f"FROM file('{p}', Parquet) AS a "
        f"JOIN file('{p}', Parquet) AS b ON a.k = b.k ORDER BY k, av, bv"
    )
    assert source_memo_stats(spark)[0] == hits + 1  # 2nd view is a hit
    plain_a = spark.read.parquet(str(p)).alias("a")
    plain_b = spark.read.parquet(str(p)).alias("b")
    expect = (
        plain_a.join(plain_b, "k")
        .selectExpr("k", "a.v AS av", "b.v AS bv")
        .orderBy("k", "av", "bv")
        .collect()
    )
    assert out.rows == [list(r) for r in expect]
    assert len(out.rows) == 6


def test_concurrent_queries_share_a_source(engine, tmp_path):
    p = tmp_path / "t.parquet"
    _write(p, k=list(range(1000)))
    sql = f"SELECT count() AS n, sum(k) AS s FROM file('{p}', Parquet)"
    barrier = threading.Barrier(2)
    results: list = [None, None]

    def run(i: int) -> None:
        barrier.wait()
        try:
            results[i] = engine.execute(sql).rows
        except Exception as e:  # surfaced by the assert below
            results[i] = e

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert results == [[[1000, 499500]], [[1000, 499500]]]


def test_memo_counts_every_read_under_thread_stress(spark, tmp_path):
    paths = []
    for i in range(4):
        p = tmp_path / f"s{i}.csv"
        p.write_text(f"k\n{i}\n")
        paths.append(str(p))
    n_threads, per_thread = 8, 25
    errors: list = []

    def run(i: int) -> None:
        try:
            for j in range(per_thread):
                df = read_source(spark, [paths[(i + j) % 4]], fmt="csv",
                                 schema="k UInt32")
                assert df.columns == ["k"]
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    hits, misses, _ = source_memo_stats(spark)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(i,))
                   for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    after = source_memo_stats(spark)
    # a lost update on either counter breaks this sum
    assert (after[0] - hits) + (after[1] - misses) == n_threads * per_thread
    assert after[2] <= SOURCE_MEMO_MAX_ENTRIES


def test_memo_is_lru_bounded(spark, tmp_path):
    schema = "k UInt32"
    for i in range(SOURCE_MEMO_MAX_ENTRIES + 1):
        p = tmp_path / f"f{i}.csv"
        p.write_text(f"k\n{i}\n")
        read_source(spark, [str(p)], fmt="csv", schema=schema)
    assert source_memo_stats(spark)[2] == SOURCE_MEMO_MAX_ENTRIES
    # the oldest entry was evicted: reading it again is a miss
    misses = source_memo_stats(spark)[1]
    read_source(spark, [str(tmp_path / "f0.csv")], fmt="csv", schema=schema)
    assert source_memo_stats(spark)[1] == misses + 1


def _optimized_plan(spark, sql: str) -> str:
    tr = transpile(sql, spark)
    try:
        plan = spark.sql(tr.sql)._jdf.queryExecution().optimizedPlan()
        return re.sub(r"#\d+L?", "#x", plan.toString())
    finally:
        for v in tr.views:
            spark.catalog.dropTempView(v)


def test_plan_is_the_same_on_miss_and_hit(spark, tmp_path):
    _write(tmp_path / "c.parquet", c_custkey=[1, 2],
           c_mktsegment=["BUILDING", "MACHINERY"])
    _write(tmp_path / "o.parquet", o_orderkey=[10, 11], o_custkey=[1, 2],
           o_orderdate=[19000, 19001], o_shippriority=[0, 0])
    _write(tmp_path / "l.parquet", l_orderkey=[10, 10, 11],
           l_extendedprice=[1.0, 2.0, 3.0], l_discount=[0.1, 0.0, 0.2],
           l_shipdate=[19010, 19011, 19012])
    sql = (
        "SELECT l.l_orderkey AS okey, "
        "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue, "
        "o.o_orderdate AS odate, o.o_shippriority AS prio "
        f"FROM file('{tmp_path}/c.parquet', Parquet) AS c "
        f"JOIN file('{tmp_path}/o.parquet', Parquet) AS o "
        "ON c.c_custkey = o.o_custkey "
        f"JOIN file('{tmp_path}/l.parquet', Parquet) AS l "
        "ON l.l_orderkey = o.o_orderkey "
        "WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < 19005 "
        "GROUP BY okey, odate, prio ORDER BY revenue DESC, okey LIMIT 10"
    )
    hits, misses, _ = source_memo_stats(spark)
    miss_plan = _optimized_plan(spark, sql)
    assert source_memo_stats(spark)[:2] == (hits, misses + 3)
    hit_plan = _optimized_plan(spark, sql)
    assert source_memo_stats(spark)[:2] == (hits + 3, misses + 3)
    assert hit_plan == miss_plan
    assert "Join" in miss_plan


# -- observability ------------------------------------------------------


def test_metrics_expose_the_memo(engine, spark, tmp_path):
    p = tmp_path / "t.parquet"
    _write(p, k=[1])
    _count(engine, f"file('{p}', Parquet)")
    _count(engine, f"file('{p}', Parquet)")
    hits, misses, entries = source_memo_stats(spark)
    text = metrics.render(engine)
    assert "# TYPE bighouse_source_memo_hits_total counter" in text
    assert "# TYPE bighouse_source_memo_misses_total counter" in text
    assert "# TYPE bighouse_source_memo_entries gauge" in text
    assert f"\nbighouse_source_memo_hits_total {hits}\n" in text
    assert f"\nbighouse_source_memo_misses_total {misses}\n" in text
    assert f"\nbighouse_source_memo_entries {entries}\n" in text
    assert entries >= 1 and hits >= 1
