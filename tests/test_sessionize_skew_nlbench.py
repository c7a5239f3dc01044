"""Stateful streaming sessionization, skew salting equivalence, and
the reference's 10-question NL-to-SQL benchmark re-run against our
views (ref scripts/benchmark_nl_to_sql.py:24-35 — pass bar ≥7/10;
here the LLM is the deterministic stub, so this exercises the VIEWS'
SQL surface end-to-end rather than the model)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

BIO_ROOT = "/root/repo/.fixtures/bio"
EVENT_SCHEMA = "event_id long, ts string, user_id long, event_type string, value double"


# -- batch sessionization: the 30-minute gap at microsecond precision -------


@pytest.mark.parametrize(
    "name, expected",
    [
        # (user_id, n_sessions, max_session_events, avg_session_duration_s)
        ("sessionize_gap30", [[1, 2, 1, 0.0], [2, 1, 2, 1800.0]]),
        # (user_a, user_b, n_concurrent): overlap is compared in whole
        # seconds, and user 1's second session starts 0.5 s after user
        # 2's session ends, so both of user 1's sessions overlap it
        ("concurrent_sessions", [[1, 2, 2]]),
    ],
    ids=["sessionize_gap30", "concurrent_sessions"],
)
def test_gap30_sessions_split_subsecond_gap_over_limit(
    spark, tmp_path, name, expected
):
    """A gap of 1800.5 s exceeds 30 minutes and starts a new session;
    a gap of exactly 1800 s does not. Gaps compared in whole seconds
    merged the first; the query must match its DuckDB oracle here."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bio_lakehouse_spark.suite import REGISTRY
    from tests.oracle_harness import compare

    t0 = dt.datetime(2024, 1, 1, 0, 0, 7, 179575)
    gap = dt.timedelta(seconds=1800)
    rows = [  # (event_id, ts, user_id)
        (0, t0, 1),
        (1, t0 + gap + dt.timedelta(microseconds=500_000), 1),
        (2, t0, 2),
        (3, t0 + gap, 2),
    ]
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }),
        tmp_path / "events.parquet",
    )
    spec = REGISTRY[name]
    got = spec.fn(spark, str(tmp_path)).toPandas()
    assert sorted(got.values.tolist()) == expected

    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/events.parquet')"
        )
        want = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    assert not compare(got, want, strict=True)


# -- stateful streaming sessionization --------------------------------------


def test_stream_sessions_stateful(spark, tmp_path):
    from bio_lakehouse_spark.streaming.sessionize import stream_sessions

    landing = tmp_path / "landing"
    landing.mkdir()
    # User 7: two bursts separated by > 30 min (gap closes session 1);
    # user 8: one burst.
    (landing / "a.csv").write_text(
        "event_id,ts,user_id,event_type,value\n"
        "1,2024-01-01 00:00:00,7,click,1.0\n"
        "2,2024-01-01 00:10:00,7,click,2.0\n"
        "3,2024-01-01 01:00:00,7,click,4.0\n"
        "4,2024-01-01 00:05:00,8,view,1.5\n"
    )
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    q = stream_sessions(spark, str(landing), out, ckpt, EVENT_SCHEMA,
                        gap_s=1800)
    assert q.awaitTermination(300)
    # The gap-closed session for user 7 is emitted in batch 1; open
    # sessions flush when a later event pushes the watermark past
    # last_ts + gap — feed a sentinel event in a second drain.
    (landing / "b.csv").write_text(
        "event_id,ts,user_id,event_type,value\n"
        "5,2024-01-01 05:00:00,9,click,1.0\n"
    )
    q2 = stream_sessions(spark, str(landing), out, ckpt, EVENT_SCHEMA,
                         gap_s=1800)
    assert q2.awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    sessions = {(r["user_id"], str(r["session_start"])): r for r in rows}
    first = sessions[(7, "2024-01-01 00:00:00")]
    assert first["n_events"] == 2
    assert first["total_value"] == pytest.approx(3.0)
    assert first["closed_by"] == "gap"
    # User 7's second burst and user 8's session closed by the
    # advancing watermark (sentinel at 05:00 > last + 30 min).
    assert sessions[(7, "2024-01-01 01:00:00")]["closed_by"] == "watermark"
    assert sessions[(8, "2024-01-01 00:05:00")]["closed_by"] == "watermark"


# -- skew salting -----------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    from bio_lakehouse_spark.operators.skew import salted_agg, salted_join

    facts = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)],
        schema="id long, k string, v double",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold", "C")], schema="k string, label string"
    )
    plain = facts.join(dim, "k").groupBy("label").count().collect()
    salted = salted_join(facts, dim, "k", n_salts=8).groupBy("label").count().collect()
    assert {r["label"]: r["count"] for r in plain} == {
        r["label"]: r["count"] for r in salted
    }
    agg = salted_agg(
        facts, ["k"],
        {"n": ("v", "count", "sum"), "total": ("v", "sum", "sum"),
         "mx": ("v", "max", "max")},
        n_salts=8,
    ).collect()
    by_k = {r["k"]: r for r in agg}
    assert by_k["hot"]["n"] == 900
    assert by_k["hot"]["mx"] == 999.0
    assert by_k["cold"]["total"] == pytest.approx(sum(float(i) for i in range(0, 1000, 10)))


# -- NL-to-SQL 10-question benchmark ----------------------------------------

# The reference's canonical questions with hand-written Spark SQL over
# OUR registered views — the stub LLM returns these; the benchmark then
# verifies translation → gate → execution → answer end to end.
BENCHMARK: dict[str, str] = {
    "What was my average readiness score last week?":
        "SELECT ROUND(AVG(readiness_score), 1) AS avg_readiness FROM ("
        "SELECT readiness_score, ROW_NUMBER() OVER (ORDER BY date DESC) rn "
        "FROM gold_daily_rollup WHERE readiness_score IS NOT NULL) WHERE rn <= 7",
    "Show my sleep duration trend over the past 30 days":
        "SELECT date, sleep_score, sleep_30day_avg FROM dashboard_30day "
        "ORDER BY date DESC LIMIT 30",
    "Which workout type gives me the best next-day readiness?":
        "SELECT workout_type, AVG(avg_readiness_in_bucket) AS readiness "
        "FROM workout_type_optimization GROUP BY workout_type "
        "ORDER BY readiness DESC LIMIT 1",
    "What's my average HRV on days after cycling vs strength training?":
        "SELECT CASE WHEN disciplines LIKE '%Cycling%' THEN 'cycling' ELSE 'strength' END AS wtype, "
        "ROUND(AVG(hrv_ms), 1) AS avg_hrv FROM gold_daily_rollup "
        "WHERE disciplines LIKE '%Cycling%' OR disciplines LIKE '%Strength%' GROUP BY 1",
    "How many workouts did I do in January?":
        "SELECT SUM(total_workout_count) AS n FROM gold_daily_rollup WHERE month = '01'",
    "What's the correlation between my sleep score and readiness?":
        "SELECT sleep_readiness_corr FROM readiness_performance_correlation "
        "WHERE segment = 'All Days'",
    "Show me days where my readiness dropped below 70":
        "SELECT date, readiness_score, energy_state FROM energy_state "
        "WHERE readiness_score < 70 ORDER BY date",
    "What's my average Peloton output for cycling workouts?":
        "SELECT ROUND(AVG(total_output_kj), 1) AS avg_output FROM gold_daily_rollup "
        "WHERE disciplines LIKE '%Cycling%'",
    "Compare my weekday vs weekend sleep duration":
        "SELECT CASE WHEN dayofweek(to_date(date)) IN (1, 7) THEN 'weekend' ELSE 'weekday' END AS day_kind, "
        "ROUND(AVG(sleep_score), 1) AS avg_sleep FROM gold_daily_rollup GROUP BY 1",
    "What was my best readiness week and what did I do differently?":
        "SELECT week_start, avg_readiness, workout_days, weekly_output_kj "
        "FROM weekly_summary ORDER BY avg_readiness DESC LIMIT 1",
}


def test_nl_benchmark_10_questions(spark):
    from bio_lakehouse_spark.bio.gold import build_gold, stg_sleep
    from bio_lakehouse_spark.bio.views import register_views
    from bio_lakehouse_spark.engine import QueryEngine
    from bio_lakehouse_spark.products.nl_sql import NLToSQLEngine, stub_llm

    gold = build_gold(spark, f"{BIO_ROOT}/silver")["gold_daily_rollup"]
    sleep_silver = spark.read.parquet(f"{BIO_ROOT}/silver/oura_daily_sleep")
    register_views(spark, gold, stg_sleep(sleep_silver))
    canned = {
        q: json.dumps({"sql": sql, "explanation": "", "assumptions": [],
                       "confidence": 0.9})
        for q, sql in BENCHMARK.items()
    }
    nl = NLToSQLEngine(engine=QueryEngine(spark), llm=stub_llm(canned))
    passed = 0
    failures = []
    for q in BENCHMARK:
        res = nl.ask(q)
        if res.error is None and res.row_count > 0:
            passed += 1
        else:
            failures.append((q, res.error))
    # The reference's bar is 7/10 with a live LLM; with hand-written
    # SQL every question must execute.
    assert passed == 10, failures


def test_stream_sessions_equal_batch_on_real_events(spark, sf_dir, tmp_path):
    """Batch↔stream equivalence on real data: the stateful streaming
    sessionizer over the sf0.001 events (replayed as a file stream,
    flushed by a far-future sentinel) must produce EXACTLY the batch
    gap-sessionization's (user, start, n_events, total_value) set —
    the structured-streaming guarantee that matters."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bio_lakehouse_spark.streaming.sessionize import stream_sessions
    from bio_lakehouse_spark.suite.registry import load

    small_sf = "/root/testdata/sf0.001"
    ev = load(spark, small_sf, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    pdf = ev.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    body = "\n".join(
        f"{r.event_id},{r.ts},{r.user_id},{r.event_type},{r.value}"
        for r in pdf.itertuples()
    )
    (landing / "events.csv").write_text(
        "event_id,ts,user_id,event_type,value\n" + body + "\n"
    )
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    q = stream_sessions(spark, str(landing), out, ckpt, EVENT_SCHEMA,
                        gap_s=1800)
    assert q.awaitTermination(600)
    # Sentinel far past every event flushes open sessions by watermark.
    (landing / "zz_sentinel.csv").write_text(
        "event_id,ts,user_id,event_type,value\n"
        "999999999,2030-01-01 00:00:00,999999,click,0.0\n"
    )
    q2 = stream_sessions(spark, str(landing), out, ckpt, EVENT_SCHEMA,
                         gap_s=1800)
    assert q2.awaitTermination(600)
    streamed = {
        (r["user_id"], str(r["session_start"])):
            (r["n_events"], round(r["total_value"], 6))
        for r in spark.read.parquet(out).collect()
        if r["user_id"] != 999999
    }
    # Batch twin over the SAME csv (identical parsing path).
    batch_ev = (
        spark.read.option("header", True).schema(EVENT_SCHEMA)
        .csv(str(landing / "events.csv"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        batch_ev.withColumn(
            "new_session",
            F.when(
                (F.unix_timestamp("ts")
                 - F.unix_timestamp(F.lag("ts").over(w)) > 1800)
                | F.lag("ts").over(w).isNull(), 1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    batch = {
        (r["user_id"], str(r["session_start"])):
            (r["n_events"], round(r["total_value"], 6))
        for r in sess.collect()
    }
    assert streamed == batch
    assert len(batch) > 50
