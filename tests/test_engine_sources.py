"""Unit tests: SQL facade (gate, cache, schema DDL, query log) and
source helpers (sniffing, header grouping, snake_case, latest-file).

Mirrors the reference's test patterns (SURVEY §5: pure-logic units +
mocked-engine integration) for the pieces the DuckDB oracle can't
exercise.
"""

from __future__ import annotations

import time
from pathlib import Path

import pytest

from bio_lakehouse_spark.engine import QueryEngine, UnsafeSqlError
from bio_lakehouse_spark.engine.facade import sql_is_safe
from bio_lakehouse_spark.sources.csv_source import (
    group_by_header,
    header_csv_reader,
    header_line,
    header_schema,
    read_header_grouped_csv,
    sniff_delimiter,
    snake_case,
)
from bio_lakehouse_spark.sources.files import latest_file, list_files, recursive_csv

BIO_ROOT = Path(__file__).resolve().parents[1] / ".fixtures" / "bio"


# -- P9 gate ----------------------------------------------------------------


@pytest.mark.parametrize(
    "sql,ok",
    [
        ("SELECT 1", True),
        ("  with t as (select 1) select * from t", True),
        ("-- comment\nSELECT 2", True),
        ("/* block */ SELECT 3", True),
        ("DROP TABLE users", False),
        ("INSERT INTO t VALUES (1)", False),
        ("CREATE TABLE t AS SELECT 1", False),
        ("UPDATE t SET x = 1", False),
        ("", False),
        ("/* unterminated", False),
    ],
)
def test_sql_gate(sql, ok):
    assert sql_is_safe(sql) is ok


def test_facade_blocks_unsafe(spark):
    eng = QueryEngine(spark)
    with pytest.raises(UnsafeSqlError):
        eng.execute("DROP TABLE anything")


def test_facade_blocks_with_wrapped_dml(spark):
    """r10: Spark's grammar allows a WITH prefix on DML, so
    ``WITH t AS (...) INSERT INTO ...`` passes any first-token gate.
    The parser-level half (plan_is_query) unwraps the CTE and rejects
    write roots — while SELECTs that merely MENTION the keywords in
    string literals stay allowed."""
    from bio_lakehouse_spark.engine.facade import plan_is_query

    eng = QueryEngine(spark)
    for sql in (
        "WITH t AS (SELECT 1 AS x) INSERT INTO tgt SELECT * FROM t",
        "WITH t AS (SELECT 1) DELETE FROM tgt WHERE 1=1",
        "WITH t AS (SELECT 1) UPDATE tgt SET x = 1",
        "WITH t AS (SELECT 1) MERGE INTO tgt USING t ON 1=1 "
        "WHEN MATCHED THEN DELETE",
    ):
        assert not plan_is_query(spark, sql), sql
        with pytest.raises(UnsafeSqlError):
            eng.execute(sql)
    assert plan_is_query(spark, "SELECT 'INSERT INTO evil' AS s")
    assert plan_is_query(
        spark, "WITH t AS (SELECT 1 AS x) SELECT * FROM t ORDER BY 1"
    )
    assert eng.execute("SELECT 'DELETE FROM x' AS s").count() == 1


def test_facade_cache_hit_and_ttl(spark):
    eng = QueryEngine(spark, cache_ttl_s=60.0)
    a = eng.execute("SELECT 41 + 1 AS x")
    b = eng.execute("SELECT 41 + 1 AS x")
    assert a is b  # identical handle → cache hit, no count job; a fetch re-runs
    eng.cache_ttl_s = 0.0
    c = eng.execute("SELECT 41 + 1 AS x")
    assert c is not b  # expired → re-executed
    assert c.collect()[0]["x"] == 42


@pytest.fixture(scope="module")
def bio_views(spark, tmp_path_factory):
    """The 12 views a refresh publishes for the facade, over silver
    built from the fixture bronze."""
    from bio_lakehouse_spark.bio.fixtures import generate_bronze
    from bio_lakehouse_spark.bio.gold import build_gold, stg_sleep
    from bio_lakehouse_spark.bio.silver import run_silver
    from bio_lakehouse_spark.bio.views import register_views

    silver = str(tmp_path_factory.mktemp("silver"))
    run_silver(spark, str(generate_bronze(BIO_ROOT / "bronze")), silver)
    gold = build_gold(spark, silver)["gold_daily_rollup"]
    return register_views(
        spark, gold, stg_sleep(spark.read.parquet(f"{silver}/oura_daily_sleep"))
    )


def test_facade_schema_ddl(spark, bio_views):
    spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v""").createOrReplaceTempView(
        "ddl_probe"
    )
    spark.sql(
        "SELECT array(1, 2) AS arr,"
        " named_struct('x', 1, 'y', array(named_struct('k', 1.5D))) AS st,"
        " CAST(1.25 AS DECIMAL(10, 2)) AS dec"
    ).createOrReplaceTempView("ddl_probe_nested")
    eng = QueryEngine(spark)
    schema = eng.get_schema()
    assert ("k", "bigint") in schema["ddl_probe"]
    assert schema["ddl_probe_nested"] == [
        ("arr", "array<int>"),
        ("st", "struct<x:int,y:array<struct<k:double>>>"),
        ("dec", "decimal(10,2)"),
    ]
    # get_schema reads resolved schemas; its type strings are listColumns'.
    for name in [*bio_views, "ddl_probe", "ddl_probe_nested"]:
        assert schema[name] == [
            (c.name, c.dataType) for c in spark.catalog.listColumns(name)
        ], name
    ddl = eng.get_schema_ddl()
    assert "CREATE TABLE ddl_probe" in ddl and "v string" in ddl


def test_facade_schema_runs_no_column_jobs(spark, bio_views, count_jobs):
    tables = count_jobs(spark.catalog.listTables)
    assert count_jobs(QueryEngine(spark).get_schema) <= tables


def test_facade_query_log(spark, tmp_path):
    log = str(tmp_path / "qlog")
    eng = QueryEngine(spark, log_path=log)
    eng.execute("SELECT 1 AS one")
    with pytest.raises(UnsafeSqlError):
        eng.execute("DELETE FROM t")
    rows = spark.read.parquet(log).collect()
    assert len(rows) == 2
    by_ok = {r["success"]: r for r in rows}
    assert by_ok[True]["n_rows"] == 1
    assert "gate" in by_ok[False]["error"]


# -- S1/S2/P2 helpers -------------------------------------------------------


def test_snake_case():
    assert snake_case("Workout Timestamp") == "workout_timestamp"
    assert snake_case("Avg. Cadence (RPM)") == "avg_cadence_rpm"
    assert snake_case("Length (minutes)") == "length_minutes"
    assert snake_case("Live/On-Demand") == "live_on-demand"


def test_sniff_and_group(tmp_path):
    a = tmp_path / "a.csv"
    a.write_text("id,day,score\n1,2025-01-01,80\n")
    b = tmp_path / "b.csv"
    b.write_text("day,id,score\n2025-01-02,2,81\n")
    c = tmp_path / "c.csv"
    c.write_text("id;day;score\n3;2025-01-03;82\n")
    assert sniff_delimiter(a) == ","
    assert sniff_delimiter(c) == ";"
    groups = group_by_header([str(a), str(b), str(c)])
    assert len(groups) == 3  # same columns, different order/delimiter


def test_header_grouped_union(spark, tmp_path):
    (tmp_path / "a.csv").write_text("id,day,score\n1,2025-01-01,80\n")
    (tmp_path / "b.csv").write_text("day,id,score\n2025-01-02,2,81\n")
    # Extra column in one group → missing elsewhere → null-filled.
    (tmp_path / "c.csv").write_text("Id;Day;Score;Extra Col\n3;2025-01-03;82;x\n")
    df = read_header_grouped_csv(spark, list_files(tmp_path, "*.csv"))
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"1", "2", "3"}
    assert rows["2"]["day"] == "2025-01-02"  # by-name, not positional
    assert rows["3"]["extra_col"] == "x"
    assert rows["1"]["extra_col"] is None


@pytest.mark.parametrize("header,sep,derived", [
    ('id,"Total, Output",x', ",", True),   # quoted field holding the delimiter
    ('Id;"Day;Part";Score', ";", True),
    ("a,b,A,a", ",", True),                # repeated name, case-folded
    ("a,a,,", ",", True),                  # repeated name and empty fields
    ("\ufeffid,day", ",", True),           # UTF-8 byte-order mark
    ('a,"b""q",c', ",", False),            # doubled quote: Spark reads it
    ('a,"b" ,c', ",", False),              # text after the quote: Spark reads it
])
def test_header_schema_reads_as_spark_infers(spark, tmp_path, header, sep, derived):
    path = tmp_path / "f.csv"
    path.write_text(f"{header}\n1{sep}\"x{sep}y\"{sep}3{sep}4\n5\n", encoding="utf-8")
    inferred = (spark.read.option("header", "true").option("sep", sep)
                .option("inferSchema", "false").csv(str(path)))
    got = header_csv_reader(spark, header_line(path), sep).csv(str(path))
    assert got.schema == inferred.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, inferred.collect()))
    schema = header_schema(spark, header_line(path), sep)
    assert schema == (inferred.schema if derived else None)


def test_header_grouped_read_spends_no_job_on_headers(spark, tmp_path, count_jobs):
    (tmp_path / "a.csv").write_text("id,day\n1,x\n")
    (tmp_path / "b.csv").write_text("day;id\ny;2\n")
    paths = list_files(tmp_path, "*.csv")
    assert count_jobs(lambda: read_header_grouped_csv(spark, paths)) == 0


@pytest.mark.parametrize("second, jobs", [
    ("id,day\n3,z\n", 0),    # one shared header: its schema, no job
    ("day,id\nz,3\n", 1),    # headers differ: Spark infers from one file
    ("", 1),                  # an empty file: Spark infers
])
def test_recursive_csv_reads_a_shared_header(spark, tmp_path, count_jobs,
                                             second, jobs):
    (tmp_path / "y=1").mkdir()
    (tmp_path / "a.csv").write_text("id,day\n1,x\n2,y\n")
    (tmp_path / "y=1" / "b.csv").write_text(second)
    (tmp_path / "_SUCCESS").write_text("")  # hidden from Spark's listing
    got: list = []
    assert count_jobs(lambda: got.append(recursive_csv(spark, tmp_path))) == jobs
    inferred = (spark.read.option("header", "true")
                .option("recursiveFileLookup", "true")
                .option("inferSchema", "false").csv(str(tmp_path)))
    assert got[0].schema == inferred.schema
    assert sorted(map(tuple, got[0].collect())) == sorted(
        map(tuple, inferred.collect())
    )


def test_latest_file(tmp_path):
    old = tmp_path / "KnownasNoma_2024.csv"
    new = tmp_path / "KnownasNoma_2025.csv"
    old.write_text("a\n")
    new.write_text("b\n")
    t = time.time()
    import os

    os.utime(old, (t - 100, t - 100))
    os.utime(new, (t, t))
    assert latest_file(tmp_path, "KnownasNoma_*.csv") == str(new)
    with pytest.raises(FileNotFoundError):
        latest_file(tmp_path, "nope_*.csv")


def test_refresh_partitions_incremental(spark, tmp_path):
    from pyspark.sql import functions as F

    from bio_lakehouse_spark.sources.sinks import (
        refresh_partitions,
        write_partitioned_parquet,
    )

    path = str(tmp_path / "part_table")
    full = spark.createDataFrame(
        [("2025-06", 1, 10.0), ("2025-06", 2, 20.0), ("2025-07", 3, 30.0)],
        schema="month string, id int, v double",
    )
    write_partitioned_parquet(full, path, ["month"])
    # Incremental refresh: only the 2025-07 slice, with new content.
    delta = spark.createDataFrame(
        [("2025-07", 3, 99.0), ("2025-07", 4, 40.0)],
        schema="month string, id int, v double",
    )
    refresh_partitions(delta, path, ["month"])
    back = {
        (r["month"], r["id"]): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    # June untouched; July replaced (old row 3→99, new row 4 added).
    assert back == {
        ("2025-06", 1): 10.0,
        ("2025-06", 2): 20.0,
        ("2025-07", 3): 99.0,
        ("2025-07", 4): 40.0,
    }
    # WAP leaves no staging debris behind a successful publish.
    assert not list(tmp_path.glob("part_table.__stage__*"))


def test_compact_partitions(spark, tmp_path):
    """Fragmented partitions collapse to one file each; data survives
    byte-identically; partitions already compact are left alone."""
    import os

    from pyspark.sql import functions as F

    from bio_lakehouse_spark.sources.sinks import compact_partitions

    path = str(tmp_path / "frag")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("part"),
    )
    # 20 appends → ~20 small files per partition.
    for i in range(20):
        df.filter(F.col("id") % 20 == i).write.mode("append").partitionBy(
            "part"
        ).parquet(path)

    def files_in(p):
        d = os.path.join(path, f"part={p}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_in(0)) >= 10
    before = spark.read.parquet(path)
    before_sum, before_n = before.agg(F.sum("id"), F.count("*")).first()

    n = compact_partitions(spark, path, ["part"])
    assert n == 2
    assert len(files_in(0)) == 1 and len(files_in(1)) == 1

    after = spark.read.parquet(path)
    after_sum, after_n = after.agg(F.sum("id"), F.count("*")).first()
    assert (after_sum, after_n) == (before_sum, before_n)

    # Second run: nothing to do.
    assert compact_partitions(spark, path, ["part"]) == 0

    # Restricted run only touches the named partition.
    df.filter(F.col("id") < 10).write.mode("append").partitionBy(
        "part"
    ).parquet(path)
    assert len(files_in(0)) == 2
    n = compact_partitions(
        spark, path, ["part"], partition_values=[{"part": "1"}]
    )
    assert n == 1 and len(files_in(1)) == 1 and len(files_in(0)) == 2


def test_merge_upsert_partitioned(spark, tmp_path):
    """MERGE semantics on plain parquet: matched keys replaced, new
    keys inserted, rows in touched partitions but not in the update
    kept, untouched partitions not even rewritten."""
    import os

    from bio_lakehouse_spark.sources.sinks import (
        merge_upsert,
        write_partitioned_parquet,
    )

    path = str(tmp_path / "merge_table")
    base = spark.createDataFrame(
        [
            ("2025-06", 1, 10.0),
            ("2025-06", 2, 20.0),
            ("2025-07", 3, 30.0),
            ("2025-07", 4, 40.0),
        ],
        schema="month string, id int, v double",
    )
    write_partitioned_parquet(base, path, ["month"])
    june_files = sorted(os.listdir(os.path.join(path, "month=2025-06")))

    updates = spark.createDataFrame(
        [("2025-07", 4, 99.0), ("2025-07", 5, 50.0)],  # update + insert
        schema="month string, id int, v double",
    )
    merge_upsert(spark, path, updates, ["month", "id"], ["month"])

    back = {
        (r["month"], r["id"]): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    assert back == {
        ("2025-06", 1): 10.0,
        ("2025-06", 2): 20.0,
        ("2025-07", 3): 30.0,  # untouched row in touched partition
        ("2025-07", 4): 99.0,  # replaced
        ("2025-07", 5): 50.0,  # inserted
    }
    # Untouched partition: same files on disk, not rewritten.
    assert (
        sorted(os.listdir(os.path.join(path, "month=2025-06"))) == june_files
    )


def test_merge_upsert_creates_table_when_missing(spark, tmp_path):
    from bio_lakehouse_spark.sources.sinks import merge_upsert

    path = str(tmp_path / "fresh_table")
    updates = spark.createDataFrame(
        [("2025-07", 1, 1.0)], schema="month string, id int, v double"
    )
    merge_upsert(spark, path, updates, ["month", "id"], ["month"])
    assert spark.read.parquet(path).count() == 1


def test_merge_upsert_unpartitioned(spark, tmp_path):
    from bio_lakehouse_spark.sources.sinks import merge_upsert

    path = str(tmp_path / "flat_table")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], schema="id int, v double"
    ).write.parquet(path)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(2, 99.0), (3, 30.0)], schema="id int, v double"),
        ["id"],
    )
    back = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert back == {1: 10.0, 2: 99.0, 3: 30.0}


def test_write_sorted_parquet_row_group_skipping(spark, sf_dir, tmp_path):
    """Range-partition + in-file sort produces parquet whose row-group
    min/max stats tile the key space → a range predicate prunes most
    row groups at the reader (the storage half of data skipping)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from bio_lakehouse_spark.sources.sinks import write_sorted_parquet
    from bio_lakehouse_spark.suite.registry import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    out = str(tmp_path / "li_sorted")
    write_sorted_parquet(li, out, ["l_shipdate"], num_files=8)

    # Footer stats: each file's shipdate range must be narrow — the
    # union tiles the keyspace instead of every file spanning it.
    spans = []
    lo = hi = None
    for f in Path(out).glob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_shipdate"
        )
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    assert len(spans) >= 4
    total = (hi - lo).days or 1
    narrow = [s for s in spans if (s[1] - s[0]).days <= total / 2]
    assert len(narrow) >= len(spans) - 1, spans

    # The same rows come back, and a range predicate prunes row
    # groups at the reader: fewer row groups survive stats filtering
    # than exist in total.
    got = spark.read.parquet(out)
    assert got.count() == li.count()
    import pyarrow.dataset as ds

    dataset = ds.dataset(out, format="parquet")
    mid = lo + (hi - lo) / 2
    frags = list(dataset.get_fragments())
    total_rgs = sum(len(f.row_groups) for f in frags)
    kept_rgs = sum(
        len(f.split_by_row_group(ds.field("l_shipdate") > mid))
        for f in frags
    )
    assert kept_rgs < total_rgs, (kept_rgs, total_rgs)


def test_continuous_rollup_equals_full_recompute(spark, sf_dir, tmp_path):
    """Merge-on-read continuous aggregate: materialized sealed days ∪
    fresh tail must equal the full recompute exactly, and the sealed
    read must prune to the materialized partitions (fresh tail is the
    only raw scan)."""
    from pyspark.sql import functions as F

    from bio_lakehouse_spark.operators.rollup import (
        continuous_daily_rollup,
        materialize_sealed_rollup,
    )
    from bio_lakehouse_spark.suite.registry import load

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )

    def agg(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total"),
        )

    wm = str(
        ev.agg(F.date_add(F.min("day"), 20)).collect()[0][0]
    )
    rollup = str(tmp_path / "rollup")
    materialize_sealed_rollup(ev, rollup, agg, "day", wm)

    merged = continuous_daily_rollup(spark, ev, rollup, agg, "day", wm)
    full = agg(ev)
    merged_c = merged.select("day", "event_type", "n", "total")
    full_c = full.select("day", "event_type", "n", "total")
    assert merged_c.exceptAll(full_c).count() == 0
    assert full_c.exceptAll(merged_c).count() == 0
    # Sealed slice contains only pre-watermark partitions on disk.
    from pathlib import Path

    days = [
        p.name.split("=")[1]
        for p in Path(rollup).glob("day=*")
    ]
    assert days and max(days) < wm


def test_schema_evolution_append(spark, tmp_path):
    """Schema-evolution append: a later batch adds a column and drops
    one; old files are never rewritten, and the merged scan exposes
    the union schema with nulls where a batch lacked the column."""
    from pyspark.sql import functions as F

    from bio_lakehouse_spark.sources.sinks import (
        append_with_schema_evolution,
        read_evolved,
    )

    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], schema="id int, name string"
    )
    append_with_schema_evolution(spark, path, v1)
    # v2 drops `name`, adds `score`.
    v2 = spark.createDataFrame(
        [(3, 9.5)], schema="id int, score double"
    )
    append_with_schema_evolution(spark, path, v2)

    got = read_evolved(spark, path)
    assert set(got.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["name"] == "a" and rows[1]["score"] is None
    assert rows[3]["name"] is None and rows[3]["score"] == 9.5
    # Evolution is append-only: first batch's files untouched, so a
    # plain scan of them still works with the original schema.
    assert len(rows) == 3


def test_write_zorder_parquet_tiles_both_columns(spark, sf_dir, tmp_path):
    """Z-order write: every file covers a ~square tile of the 2-D key
    space, so row-group footer stats are narrow on BOTH columns — vs a
    single-key sort where the second column's spans cover ~the whole
    range. Mean span fraction per column must stay under 0.5 for the
    z-order write and the single-sort control must be worse on the
    second key."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from bio_lakehouse_spark.sources.sinks import (
        write_sorted_parquet,
        write_zorder_parquet,
    )
    from bio_lakehouse_spark.suite.registry import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )

    def spans(root, col):
        lo = hi = None
        fracs = []
        metas = []
        for f in Path(root).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                metas.append((st.min, st.max))
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        total = (hi - lo) or 1
        return [float(mx - mn) / float(total) for mn, mx in metas]

    zpath = str(tmp_path / "li_z")
    write_zorder_parquet(li, zpath, "l_orderkey", "l_extendedprice",
                         num_files=16)
    spath = str(tmp_path / "li_s")
    write_sorted_parquet(li, spath, ["l_orderkey"], num_files=16)

    z_a = sum(spans(zpath, "l_orderkey")) / len(spans(zpath, "l_orderkey"))
    z_b = sum(spans(zpath, "l_extendedprice")) / len(
        spans(zpath, "l_extendedprice")
    )
    s_b = sum(spans(spath, "l_extendedprice")) / len(
        spans(spath, "l_extendedprice")
    )
    assert z_a < 0.5 and z_b < 0.5, (z_a, z_b)
    assert z_b < s_b * 0.6, (z_b, s_b)
    # same rows round-trip
    got = spark.read.parquet(zpath)
    assert got.count() == li.count()


def test_write_zorder_parquet_extremes_and_nulls(spark, tmp_path):
    """r11 HOF/edge audit: array_position returns 0 (not NULL) when no
    quantile boundary matches — values in the TOP bucket and NULL keys
    — so the old coalesce(pos-1, nbuckets-1) fallback was dead and the
    bucket came out -1; the interleave only survived because -1's
    two's-complement bits are all ones. Pin the post-fix contract:
    every row (max extremes, nulls included) round-trips, and the max
    key lands in the LAST z tile (co-located with the other top-bucket
    keys, not scattered)."""
    from pyspark.sql import functions as F

    from bio_lakehouse_spark.sources.sinks import write_zorder_parquet

    df = spark.range(1, 1001).select(
        F.col("id").cast("double").alias("a"),
        (F.lit(1001) - F.col("id")).cast("double").alias("b"),
    ).unionByName(
        spark.createDataFrame(
            [(None, 1.0), (1e9, None), (1e9, 1e9)], "a double, b double"
        )
    )
    path = str(tmp_path / "zx")
    write_zorder_parquet(df, path, "a", "b", num_files=4)
    got = spark.read.parquet(path)
    assert got.count() == df.count()  # nothing dropped
    # the extreme (1e9, 1e9) pair must sit in the last range-partition
    # file alongside the other top-bucket rows
    import pyarrow.parquet as pq
    from pathlib import Path

    maxes = []
    for f in sorted(Path(path).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "a"
        )
        st = md.row_group(md.num_row_groups - 1).column(idx).statistics
        maxes.append(st.max)
    assert max(maxes) == 1e9


def _part_counts(spark, path):
    from pyspark.sql import functions as F

    return {
        tuple(r["k"]): r["n"]
        for r in (
            spark.read.parquet(str(path))
            .groupBy(F.array("year", "month").alias("k"))
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        )
    }


def test_wap_audit_failure_leaves_target_untouched(spark, tmp_path):
    """WAP step 2: a vetoed audit must delete the stage and leave the
    target byte-identical — the torn-table window of a plain
    overwrite (write starts, THEN validation fails) cannot exist."""
    import os

    from pyspark.sql import functions as F

    from bio_lakehouse_spark.sources.sinks import write_audit_publish

    path = tmp_path / "t"
    base = spark.range(100).select(
        "id",
        F.lit("2024").alias("year"),
        (F.col("id") % 2).cast("string").alias("month"),
    )
    write_audit_publish(base, str(path), ["year", "month"])
    before = _part_counts(spark, path)
    files_before = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )

    def veto(staged):
        raise RuntimeError("rows out of policy")

    bad = base.withColumn("id", F.col("id") + 1000)
    with pytest.raises(RuntimeError, match="out of policy"):
        write_audit_publish(bad, str(path), ["year", "month"], audit_fn=veto)
    # Wrong expected_rows vetoes the publish the same way.
    with pytest.raises(ValueError, match="expected 7"):
        write_audit_publish(
            bad, str(path), ["year", "month"], expected_rows=7
        )
    files_after = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )
    assert files_after == files_before
    assert _part_counts(spark, path) == before
    assert not list(tmp_path.glob("t.__stage__*")), "stage not cleaned"


def test_wap_crash_mid_publish_never_tears_a_partition(spark, tmp_path):
    """Kill the publisher between partition swaps: every partition the
    reader can see must be ENTIRELY old or ENTIRELY new — the mixed
    old+new file soup a crashed dynamic overwrite can leave is the
    failure mode WAP exists to kill. The crashed run's debris must
    also be invisible to readers (dot-prefixed) and swept by the next
    successful publish."""
    from pyspark.sql import functions as F

    from bio_lakehouse_spark.sources import sinks

    path = tmp_path / "t"
    old = spark.range(60).select(
        "id",
        F.lit("2024").alias("year"),
        (F.col("id") % 3).cast("string").alias("month"),
    )
    sinks.write_audit_publish(old, str(path), ["year", "month"])
    # New data: different row count per partition so origin is
    # distinguishable (40 rows/partition new vs 20 old).
    new = spark.range(120).select(
        (F.col("id") + 10_000).alias("id"),
        F.lit("2024").alias("year"),
        (F.col("id") % 3).cast("string").alias("month"),
    )

    real_rename = sinks._rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        # Let the first partition fully swap (2 renames: retire + land),
        # then die mid-way through the SECOND partition's swap — after
        # its retire rename, before its landing rename: the worst spot.
        if calls["n"] == 3:
            raise OSError("simulated crash between partition swaps")
        calls["n"] += 1
        real_rename(src, dst)

    sinks._rename = crashing_rename
    try:
        with pytest.raises(OSError, match="simulated crash"):
            sinks.write_audit_publish(new, str(path), ["year", "month"])
    finally:
        sinks._rename = real_rename

    seen = _part_counts(spark, path)
    assert seen, "reader must still see a table"
    for part, n in seen.items():
        assert n in (20, 40), f"torn partition {part}: {n} rows"
    # All visible rows parse; no duplicate ids (old+new mix would dup
    # the partition's key space size).
    df = spark.read.parquet(str(path))
    assert df.count() == df.select("id").distinct().count()

    # Recovery: the next successful publish sweeps stage debris and
    # converges the table to fully-new.
    sinks.write_audit_publish(new, str(path), ["year", "month"])
    assert _part_counts(spark, path) == {
        ("2024", "0"): 40, ("2024", "1"): 40, ("2024", "2"): 40,
    }
    assert not list(tmp_path.glob("t.__stage__*"))


def test_versioned_write_time_travel_and_cas(spark, tmp_path):
    """Versioned commits: sequential writes claim v1/v2 with the
    pointer following; pinning v1 reads the OLD snapshot byte-true
    (time travel); a squatter on the next version number forces the
    CAS rename to retry and claim the number after; vacuum removes
    old versions but never the pointer target."""
    from bio_lakehouse_spark.sources.sinks import (
        read_versioned,
        vacuum_versions,
        versioned_write,
    )

    path = str(tmp_path / "vt")
    d1 = spark.range(5).withColumnRenamed("id", "k")
    d2 = spark.range(9).withColumnRenamed("id", "k")
    r1 = versioned_write(d1, path)
    r2 = versioned_write(d2, path)
    assert (r1["version"], r2["version"]) == (1, 2)
    assert read_versioned(spark, path).count() == 9
    assert read_versioned(spark, path, version=1).count() == 5  # travel

    # CAS: squat v3 so the next writer must retry and land on v4.
    import pathlib

    (pathlib.Path(path) / "v3" / "occupied").mkdir(parents=True)
    r3 = versioned_write(spark.range(2).withColumnRenamed("id", "k"), path)
    assert r3["version"] == 4
    assert read_versioned(spark, path).count() == 2

    removed = vacuum_versions(path, keep_last=1)
    assert 1 in removed and 4 not in removed
    assert read_versioned(spark, path).count() == 2  # pointer intact


def test_versioned_write_audit_veto_leaves_pointer(spark, tmp_path):
    """A vetoing audit_fn must delete the stage, claim NO version,
    and leave the published pointer untouched."""
    import pytest as _pytest

    from bio_lakehouse_spark.sources.sinks import (
        read_versioned,
        versioned_write,
    )

    path = str(tmp_path / "vt2")
    versioned_write(spark.range(3).withColumnRenamed("id", "k"), path)

    def veto(df):
        raise ValueError("bad batch")

    with _pytest.raises(ValueError):
        versioned_write(
            spark.range(7).withColumnRenamed("id", "k"), path, audit_fn=veto
        )
    assert read_versioned(spark, path).count() == 3
    import pathlib

    names = {p.name for p in pathlib.Path(path).iterdir()}
    assert names == {"v1", "_latest"}  # no v2, no stage debris


def test_versioned_compliance_purge_leaves_no_bytes(spark, tmp_path):
    """Right-to-be-forgotten on the versioned table: publish a new
    version without the purged user's rows, then vacuum history down
    to the clean version — after which NO parquet byte under the
    table root contains the user's id (time-travel to the dirty
    version must also be gone). This is the deletion workflow a
    plain-parquet lakehouse supports: filter-rewrite-publish + retire
    history; the test proves retention, not just the pointer."""
    from bio_lakehouse_spark.sources.sinks import (
        read_versioned,
        vacuum_versions,
        versioned_write,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"user{i % 5}", float(i)) for i in range(100)],
        "id long, user string, v double",
    )
    dirty_v = versioned_write(df, path)["version"]
    purge_user = "user3"

    clean = read_versioned(spark, path).filter(F.col("user") != purge_user)
    versioned_write(clean, path)

    # the dirty version is still time-travelable before vacuum
    assert (
        read_versioned(spark, path, version=dirty_v)
        .filter(F.col("user") == purge_user)
        .count()
        > 0
    )

    vacuum_versions(path, keep_last=1)

    # pointer reads clean
    assert (
        read_versioned(spark, path).filter(F.col("user") == purge_user).count()
        == 0
    )
    # the dirty version is unreadable
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_versioned(spark, path, version=dirty_v)
    # and no surviving parquet file contains the purged id's bytes
    from pathlib import Path

    leftovers = []
    for f in Path(path).rglob("*.parquet"):
        if purge_user.encode() in f.read_bytes():
            leftovers.append(str(f))
    assert not leftovers, leftovers


def test_write_read_table_format_orc(spark, tmp_path):
    """Format-parametric sinks: ORC round-trips with Hive partition
    layout, string partition values (inference pinned off), and a
    partition filter visible in the plan; avro fails LOUDLY where the
    spark-avro module is absent; unknown formats are rejected."""
    import contextlib
    import io

    import pytest as _pytest
    from pyspark.sql import functions as F

    from bio_lakehouse_spark.sources.sinks import (
        avro_available,
        read_table_format,
        write_table_format,
    )

    df = spark.createDataFrame(
        [(1, "a", "01"), (2, "b", "01"), (3, "c", "02")],
        "k int, v string, mon string",
    )
    path = str(tmp_path / "orc_tbl")
    write_table_format(df, path, fmt="orc", partition_cols=["mon"])
    back = read_table_format(spark, path, fmt="orc")
    assert dict(back.dtypes)["mon"] == "string"
    assert back.count() == 3
    pruned = back.filter(F.col("mon") == "01")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    assert "PartitionFilters: [isnotnull(mon" in buf.getvalue()
    assert pruned.count() == 2

    with _pytest.raises(ValueError):
        write_table_format(df, path, fmt="feather")
    if not avro_available(spark):
        with _pytest.raises(RuntimeError):
            write_table_format(df, str(tmp_path / "av"), fmt="avro")
