"""The benchmark's workloads: inputs, op sequence, output checks, layers.

A workload builds its inputs in ``setup``, returns the fixed op
sequence of one pass from ``ops``, marks each finished op ``ok`` or not
in ``check`` (outside the timed ops), names the package functions a
traced run wraps in ``instrument`` and turns one traced pass's spans
into per-layer figures in ``layers``.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import sys
from pathlib import Path

import numpy as np

from perfbench import datagen

# The pinned sf0.1 registry queries of query_suite. The iterative one
# spends its time in eager jobs while the DataFrame is built; the scan
# ones are single plans whose time is the final action. The set is kept
# to what a run of about a minute (cold pass plus one warm pass) holds.
ITERATIVE = ("pagerank_cust_supplier",)
SCAN = (
    "pricing_summary",
    "sessionize_gap30",
    "rolling_avg_windows",
    "asof_last_purchase",
    "multimodal_audio_chunks",
)


def _files(root: Path) -> list[Path]:
    """Data files under ``root``: Spark's ``_SUCCESS`` and ``.crc``
    side files are not table bytes."""
    return [p for p in root.rglob("*")
            if p.is_file() and not p.name.startswith(("_", "."))]


def _bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in _files(root))


def hash_columns(df):
    """Per-column expressions whose xxhash64 is stable across runs:
    doubles rounded to 6 places, other nested values as JSON."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        elif isinstance(t, T.ArrayType) and isinstance(
            t.elementType, (T.DoubleType, T.FloatType)
        ):
            c = F.transform(c, lambda x: F.round(x, 6))
        elif isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(c)
    return cols


def digest_exprs(df):
    """Row count and an order-independent content hash, as aggregates."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*hash_columns(df)), F.lit(2147483647))
    return [F.count(F.lit(1)).alias("rows"), F.sum(h).alias("hash")]


def frame_digest(pdf) -> tuple[int, int]:
    """Row count and order-independent hash of a pandas result."""
    import pandas as pd

    if pdf.empty:
        return 0, 0
    rows = pd.util.hash_pandas_object(pdf.round(6), index=False)
    return len(pdf), int(rows.to_numpy().sum(dtype=np.uint64))


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value (nearest rank); the median when there are too few."""
    vals = sorted(values)
    n = len(vals)
    if n < 20:
        return 50.0, statistics.median(vals)
    pct = 100.0 * (n - 10) / n
    return pct, vals[n - 11]


def _mean(xs: list[float]) -> float | None:
    return statistics.fmean(xs) if xs else None


class Context:
    """What every workload needs: the session, tracer, paths and sizes."""

    def __init__(self, spark, tracer, root: Path, work: Path, seed: int,
                 sf: float, requests: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.work = work
        self.seed = seed
        self.sf = sf
        self.requests = requests


class Spans:
    """Index over one pass's span report."""

    def __init__(self, spans: list[dict]) -> None:
        self.all = spans
        self.kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.kids.setdefault(s["parent"], []).append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.all if s["name"] == name]

    def sum(self, name: str, key: str = "wall_s") -> float:
        return sum(s[key] for s in self.named(name))

    def below(self, span: dict, name: str) -> list[dict]:
        out, todo = [], list(self.kids.get(span["id"], ()))
        while todo:
            s = todo.pop()
            if s["name"] == name:
                out.append(s)
            todo.extend(self.kids.get(s["id"], ()))
        return out

    def roots(self) -> list[dict]:
        return [s for s in self.all if s["parent"] is None]


def common_layers(spans: Spans) -> dict:
    """Spark figures of a whole pass, summed over its op spans."""
    ops = spans.roots()

    def tot(key):
        return sum(s[key] for s in ops)

    return {
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.job_s": sum(s["wall_s"] - s["gap_s"] for s in ops),
        "spark.driver_gap_s": tot("gap_s"),
        "spark.executor_run_s": tot("run_s"),
        "spark.executor_cpu_s": tot("cpu_s"),
        "spark.gc_s": tot("gc_s"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "trace.spans": len(spans.all),
    }


# ---------------------------------------------------------------------------
# medallion_refresh
# ---------------------------------------------------------------------------

# Parameterized SELECTs over gold and the 11 views. Each template with
# each parameter is one statement of the request universe.
TEMPLATES = [
    ("SELECT date, readiness_score, sleep_score FROM gold_daily_rollup "
     "WHERE readiness_score >= {} ORDER BY date", (60, 70, 80, 90)),
    ("SELECT COUNT(*) AS n_days, AVG(steps) AS avg_steps FROM "
     "gold_daily_rollup WHERE substr(date, 1, 7) = '2025-{:02d}'",
     (6, 7, 8, 9, 10)),
    ("SELECT * FROM dashboard_30day ORDER BY date DESC LIMIT {}", (7, 14, 30)),
    ("SELECT energy_state, COUNT(*) AS n FROM energy_state "
     "WHERE readiness_score >= {} GROUP BY energy_state", (0, 70)),
    ("SELECT * FROM weekly_summary WHERE week_start >= DATE '2025-{:02d}-01' "
     "ORDER BY week_start", (6, 8, 10)),
    ("SELECT overtraining_risk, COUNT(*) AS n FROM overtraining_risk "
     "WHERE workouts_last_3_days >= {} GROUP BY overtraining_risk", (0, 2)),
    ("SELECT * FROM readiness_performance_correlation "
     "WHERE sample_size >= {} ORDER BY segment", (0, 10)),
    ("SELECT sleep_quality, AVG(next_day_readiness) AS avg_readiness, "
     "COUNT(*) AS n FROM sleep_performance_prediction "
     "WHERE prev_night_sleep >= {} GROUP BY sleep_quality", (0, 70)),
    ("SELECT temp_status, COUNT(*) AS n FROM temperature_trends "
     "WHERE readiness_score >= {} GROUP BY temp_status", (0, 75)),
    ("SELECT date, tss FROM training_load_daily WHERE tss > {} "
     "ORDER BY tss DESC, date LIMIT 10", (0, 50)),
    ("SELECT recommended_intensity, COUNT(*) AS n FROM "
     "workout_recommendations WHERE readiness_score >= {} "
     "GROUP BY recommended_intensity", (0, 80)),
    ("SELECT * FROM workout_type_optimization WHERE sample_days >= {} "
     "ORDER BY readiness_bucket, workout_type", (1, 3)),
    ("SELECT day, sleep_score, deep_sleep, rem_sleep FROM sleep_architecture "
     "ORDER BY day DESC LIMIT {}", (7, 30)),
]
# Statements the facade must refuse (DDL, DML, WITH-wrapped INSERT).
UNSAFE = [
    "DROP TABLE gold_daily_rollup",
    "DELETE FROM gold_daily_rollup WHERE steps < 0",
    "INSERT INTO gold_daily_rollup SELECT * FROM gold_daily_rollup",
    "WITH t AS (SELECT 1 AS x) INSERT INTO gold_daily_rollup "
    "SELECT * FROM gold_daily_rollup",
    "CREATE TABLE perfbench_probe AS SELECT 1 AS x",
]
UNSAFE_SHARE = 0.08
NL_SHARE = 0.25
ZIPF_S = 1.1


def request_stream(seed: int, n: int) -> list[dict]:
    """``n`` requests drawn from ``seed``: statements from a Zipf mix
    over the universe, half of the safe requests repeating an earlier
    one (so the cache serves them), a quarter asked in natural language
    and a few unsafe. The shares are fixed; the seed picks statements
    and order."""
    rng = np.random.default_rng([seed, 1])
    universe = [t.format(p) for t, ps in TEMPLATES for p in ps]
    weights = 1.0 / np.arange(1, len(universe) + 1) ** ZIPF_S
    weights = weights[np.argsort(rng.permutation(len(universe)))]
    weights /= weights.sum()
    n_unsafe = max(1, round(n * UNSAFE_SHARE))
    n_safe = n - n_unsafe
    n_distinct = min(len(universe), max(1, (n_safe + 1) // 2))
    distinct = rng.choice(len(universe), n_distinct, replace=False, p=weights)
    w = weights[distinct] / weights[distinct].sum()
    picks = list(distinct) + list(rng.choice(distinct, n_safe - n_distinct, p=w))
    rng.shuffle(picks)
    sqls = [universe[int(i)] for i in picks]
    unsafe_at = set(rng.choice(n, n_unsafe, replace=False).tolist())
    nl_at = set(rng.choice(n, round(n * NL_SHARE), replace=False).tolist())
    out = []
    for i in range(n):
        unsafe = i in unsafe_at
        sql = UNSAFE[int(rng.integers(len(UNSAFE)))] if unsafe else sqls.pop()
        out.append({"sql": sql, "kind": "nl" if i in nl_at else "sql",
                    "unsafe": unsafe})
    return out


def _question(sql: str) -> str:
    return "Q" + hashlib.md5(sql.encode()).hexdigest()[:8]


class MedallionRefresh:
    """Daily refresh, weekly report, then the morning's SQL requests.

    One pass: ``run_daily_pipeline`` (silver → gold → views →
    briefing) on a seeded bronze tree, the 13-analyzer weekly report
    over the fresh gold, then the seeded request stream through the SQL
    facade and NL-to-SQL with a fresh engine, so its result cache
    starts empty as after a real refresh."""

    name = "medallion_refresh"
    modules = (
        "bio_lakehouse_spark.bio.silver", "bio_lakehouse_spark.bio.gold",
        "bio_lakehouse_spark.bio.views", "bio_lakehouse_spark.sources.sinks",
        "bio_lakehouse_spark.products.pipeline",
        "bio_lakehouse_spark.products.briefing",
        "bio_lakehouse_spark.products.insights",
        "bio_lakehouse_spark.engine.facade",
        "bio_lakehouse_spark.products.nl_sql",
    )
    N_ANALYZERS = 13

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.bronze = ctx.work / "bronze"
        self.silver = ctx.work / "silver"
        self.gold = ctx.work / "gold"
        self.briefing = ctx.work / "briefing.txt"
        self.stream = request_stream(ctx.seed, ctx.requests)
        self.ref_gold: dict | None = None
        self.ref_response: dict[str, tuple[int, int]] = {}
        self.write_amp: float | None = None

    def setup(self) -> None:
        from bio_lakehouse_spark.bio.fixtures import generate_bronze

        shutil.rmtree(self.bronze, ignore_errors=True)
        generate_bronze(self.bronze, seed=self.ctx.seed)

    # -- ops -----------------------------------------------------------------
    def ops(self) -> list[tuple[str, object]]:
        from bio_lakehouse_spark.engine.facade import QueryEngine
        from bio_lakehouse_spark.products.nl_sql import NLToSQLEngine, stub_llm

        engine = QueryEngine(self.ctx.spark)
        canned = {
            _question(r["sql"]): json.dumps({"sql": r["sql"], "confidence": 0.9})
            for r in self.stream
        }
        nl = NLToSQLEngine(engine=engine, llm=stub_llm(canned))
        ops = [("refresh", self._refresh), ("report", self._report)]
        for r in self.stream:
            ops.append((f"request.{r['kind']}",
                        lambda r=r: self._request(engine, nl, r)))
        return ops

    def _refresh(self):
        from bio_lakehouse_spark.products import pipeline

        return pipeline.run_daily_pipeline(
            self.ctx.spark, str(self.bronze), str(self.silver),
            str(self.gold), str(self.briefing), as_of="2025-10-29",
        )

    def _report(self):
        from bio_lakehouse_spark.products import insights

        spark = self.ctx.spark
        gold = spark.read.parquet(str(self.gold / "gold_daily_rollup"))
        windows = spark.read.parquet(str(self.gold / "workout_recovery_windows"))
        analyzers = insights.default_analyzers(
            spark, gold, silver_root=str(self.silver),
            recovery_windows=windows,
        )
        return insights.WeeklyReportGenerator(analyzers).generate("perfbench")

    def _request(self, engine, nl, r: dict) -> dict:
        from bio_lakehouse_spark.engine.facade import UnsafeSqlError

        if r["kind"] == "nl":
            res = nl.ask(_question(r["sql"]))
            if res.error is not None:
                return {"refused": True}
            return {"refused": False, "data": res.data}
        try:
            df = engine.execute(r["sql"])
        except UnsafeSqlError:
            return {"refused": True}
        with self.ctx.tracer.span("engine.facade.fetch"):
            return {"refused": False, "data": df.toPandas()}

    # -- checks --------------------------------------------------------------
    def _gold_digest(self) -> dict:
        spark = self.ctx.spark
        out = {}
        for table in ("gold_daily_rollup", "feature_readiness_daily",
                      "workout_recovery_windows"):
            df = spark.read.parquet(str(self.gold / table))
            row = df.agg(*digest_exprs(df)).collect()[0]
            out[table] = (int(row["rows"]), int(row["hash"] or 0))
        return out

    def check(self, results: list[dict]) -> None:
        for res, r in zip(results[2:], self.stream):
            res["request"] = r
        for res in results:
            if res["error"] is not None:
                res["ok"] = False
            elif res["op"] == "refresh":
                res["ok"] = self._check_refresh(res["out"])
            elif res["op"] == "report":
                html, sections = res["out"]
                res["ok"] = len(sections) == self.N_ANALYZERS and bool(html)
            else:
                res["ok"] = self._check_request(res["request"], res["out"])

    def _check_refresh(self, out: dict) -> bool:
        """Gold row counts and content hash match the run's first
        refresh, which itself must have complete stages and rows."""
        if out["status"] != "complete":
            return False
        gold = self._gold_digest()
        if self.ref_gold is None:
            if not all(rows > 0 for rows, _ in gold.values()):
                return False
            self.ref_gold = gold
            self.write_amp = (
                (_bytes(self.silver) + _bytes(self.gold)) / _bytes(self.bronze)
            )
        return gold == self.ref_gold and self.briefing.read_text().strip() != ""

    def _check_request(self, r: dict, out: dict) -> bool:
        """Unsafe statements must be refused; a safe one must return the
        same rows as its first execution in this run."""
        if r["unsafe"] or out["refused"]:
            return r["unsafe"] and out["refused"]
        digest = frame_digest(out["data"])
        return digest == self.ref_response.setdefault(r["sql"], digest)

    def checks(self) -> dict:
        return {"gold": self.ref_gold}

    def final_check(self, results: list[dict]) -> None:
        """Every check of this workload runs after its pass."""

    def report(self, passes: list[list[dict]]) -> dict:
        """Request-level figures over every warm pass. Throughput is the
        request count over the wall time of each pass's request
        segment, from the first request's start to the last one's end."""
        reqs = [[r for r in p if r["op"].startswith("request.")]
                for p in passes]
        lat = [r["s"] * 1000 for p in reqs for r in p]
        out = {"write_amp": self.write_amp}
        if lat:
            pct, tail = tail_percentile(lat)
            wall = sum(p[-1]["end"] - p[0]["start"] for p in reqs if p)
            out.update(
                request_p50_ms=statistics.median(lat),
                request_tail_ms=tail, request_tail_pct=pct,
                request_samples=len(lat),
                requests_per_s=len(lat) / wall,
            )
        return out

    # -- tracing -------------------------------------------------------------
    def instrument(self, tracer) -> None:
        from bio_lakehouse_spark.bio import gold, silver, views
        from bio_lakehouse_spark.engine import facade
        from bio_lakehouse_spark.products import briefing, insights, nl_sql
        from bio_lakehouse_spark.sources import sinks

        tracer.wrap(silver, "run_silver", "bio.silver")
        for table in list(silver.SILVER_TABLES):
            tracer.wrap(silver.SILVER_TABLES, table, f"bio.silver.{table}")

        def sink_path(rec, args, kwargs, out):
            rec["path"] = str(args[1] if len(args) > 1 else kwargs["path"])

        for owner in (silver, sinks):
            tracer.wrap(owner, "write_partitioned_parquet",
                        "sources.sinks.write", on_call=sink_path)
        tracer.wrap(gold, "build_gold", "bio.gold")
        tracer.wrap(views, "register_views", "bio.views")
        for fn in ("build_briefing", "render_briefing", "publish_briefing"):
            tracer.wrap(briefing, fn, "products.briefing")
        tracer.wrap(insights.WeeklyReportGenerator, "generate",
                    "products.insights")

        def wrap_analyzers(rec, args, kwargs, analyzers):
            for a in analyzers:
                tracer.wrap(a, "analyze", f"products.insights.{type(a).__name__}")

        tracer.wrap(insights, "default_analyzers", "products.insights.build",
                    on_call=wrap_analyzers)

        def execute_name(engine, sql, *args, **kwargs):
            key = hashlib.md5(sql.encode()).hexdigest()
            return ("engine.facade.hit" if key in engine._cache
                    else "engine.facade.execute")

        tracer.wrap(facade.QueryEngine, "execute", execute_name)
        tracer.wrap(facade, "sql_is_safe", "engine.facade.gate")
        tracer.wrap(facade, "plan_is_query", "engine.facade.gate")
        tracer.wrap(nl_sql.NLToSQLEngine, "translate", "products.nl_sql.translate")
        tracer.wrap(nl_sql.NLToSQLEngine, "ask", "products.nl_sql.ask")

    def layers(self, spans: Spans, results: list[dict]) -> dict:
        from bio_lakehouse_spark.bio.silver import SILVER_TABLES

        m: dict = {}
        (sil,) = spans.named("bio.silver")
        m.update({
            "bio.silver.s": sil["wall_s"], "bio.silver.jobs": sil["jobs"],
            "bio.silver.tasks": sil["tasks"],
            "bio.silver.driver_gap_s": sil["gap_s"],
            "bio.silver.rows_in": sil["records_read"],
            "bio.silver.rows_out": sil["records_written"],
            "bio.silver.rows_dropped": sil["records_read"] - sil["records_written"],
        })
        writes = spans.named("sources.sinks.write")
        for table in SILVER_TABLES:
            m[f"bio.silver.{table}.s"] = spans.sum(f"bio.silver.{table}") + sum(
                w["wall_s"] for w in writes if Path(w["path"]).name == table
            )
        m["sources.sinks.write_s"] = sum(w["wall_s"] for w in writes)
        m["sources.sinks.files"] = sum(len(_files(Path(w["path"]))) for w in writes)
        m["sources.sinks.bytes"] = sum(w["bytes_written"] for w in writes)
        (gold,) = spans.named("bio.gold")
        m.update({
            "bio.gold.s": gold["wall_s"], "bio.gold.jobs": gold["jobs"],
            "bio.gold.tasks": gold["tasks"],
            "bio.gold.driver_gap_s": gold["gap_s"],
            "bio.gold.rows_out": gold["records_written"],
            "bio.gold.shuffle_bytes": gold["shuffle_write_bytes"],
        })
        for layer in ("bio.views", "products.briefing"):
            m[f"{layer}.s"] = spans.sum(layer)
            m[f"{layer}.jobs"] = spans.sum(layer, "jobs")
        (ins,) = spans.named("products.insights")
        m.update({
            "products.insights.s": ins["wall_s"],
            "products.insights.jobs": ins["jobs"],
            "products.insights.driver_self_s": ins["gap_s"],
        })
        for kid in spans.kids.get(ins["id"], ()):
            m[f"{kid['name']}.s"] = kid["wall_s"]
        m.update(self._request_layers(spans, results))
        return m

    def _request_layers(self, spans: Spans, results: list[dict]) -> dict:
        requests = [op for op in spans.roots()
                    if op["name"].startswith("op.request.")]
        hits = [op for op in requests if spans.below(op, "engine.facade.hit")]
        misses = [op for op in requests
                  if spans.below(op, "engine.facade.execute")]
        gate = [sum(g["wall_s"] for g in spans.below(op, "engine.facade.gate"))
                for op in requests]
        unsafe = [r for r in results if r["op"].startswith("request.")
                  and r["request"]["unsafe"]]

        def ms(name, key="wall_s"):
            return _mean([s[key] * 1000 for s in spans.named(name)])

        return {
            "engine.facade.gate_ms": _mean([g * 1000 for g in gate]),
            "engine.facade.miss_ms": ms("engine.facade.execute"),
            "engine.facade.jobs_per_miss": _mean([op["jobs"] for op in misses]),
            "engine.facade.fetch_ms": ms("engine.facade.fetch"),
            "engine.facade.hit_ratio": (
                len(hits) / (len(hits) + len(misses)) if hits or misses else None
            ),
            "engine.facade.hit_ms": _mean([op["wall_s"] * 1000 for op in hits]),
            "engine.facade.jobs_per_hit": _mean([op["jobs"] for op in hits]),
            "engine.facade.refused": sum(
                1 for r in unsafe if r["out"] and r["out"]["refused"]),
            "engine.facade.unsafe_attempted": len(unsafe),
            "products.nl_sql.translate_ms": ms("products.nl_sql.translate"),
            "products.nl_sql.ask_ms": ms("products.nl_sql.ask"),
            "products.nl_sql.answer_ms": ms("products.nl_sql.ask", "self_s"),
        }


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------


class QuerySuite:
    """One op is one pinned registry query: build its DataFrame, then
    materialize it with the noop sink. The sink's input is observed for
    a row count and content hash, checked against the run's first pass;
    once per run one query (picked by the seed) is also checked against
    its strict DuckDB oracle, after the run's memory figures are read
    so the oracle's own memory stays out of them."""

    name = "query_suite"
    modules = ("bio_lakehouse_spark.suite",)
    queries = ITERATIVE + SCAN
    # sessionize_gap30 truncates each timestamp to whole seconds before
    # it compares a gap with 30 minutes, its oracle does not: a gap in
    # (1800 s, 1801 s), which a seed's microsecond events commonly hold,
    # splits the two. The query still runs and is checked pass against
    # pass.
    oracle_queries = tuple(q for q in queries if q != "sessionize_gap30")

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        # Named like the suite's fixture directories so the registry's
        # sf parsing (and its fixture cache keys) see scale factor sf.
        self.sf_dir = ctx.work / f"perfbench_sf{ctx.sf:g}"
        self.ref: dict[str, tuple[int, int]] = {}
        self.oracle_query = self.oracle_queries[
            ctx.seed % len(self.oracle_queries)]
        self.oracle_problems: list[str] | None = None

    def setup(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        datagen.write(self.sf_dir, self.ctx.sf, self.ctx.seed)

    def ops(self) -> list[tuple[str, object]]:
        return [(q, lambda q=q: self._run(q)) for q in self.queries]

    def _run(self, query: str):
        from pyspark.sql import Observation

        from bio_lakehouse_spark.suite.registry import REGISTRY

        tracer = self.ctx.tracer
        with tracer.span("suite.build", query=query):
            df = REGISTRY[query].fn(self.ctx.spark, str(self.sf_dir))
        obs = Observation(f"perfbench_{query}")
        with tracer.span("suite.action", query=query):
            df.observe(obs, *digest_exprs(df)).write.format("noop") \
                .mode("overwrite").save()
        return df, obs

    def check(self, results: list[dict]) -> None:
        for res in results:
            if res["error"] is not None:
                res["ok"] = False
                continue
            got = res["out"][1].get
            digest = (int(got["rows"]), int(got["hash"] or 0))
            res["ok"] = digest == self.ref.setdefault(res["op"], digest)

    def final_check(self, results: list[dict]) -> None:
        """Compare the oracle query's last result with its strict DuckDB
        oracle; runs after the memory figures are read."""
        from bio_lakehouse_spark.suite.registry import REGISTRY

        res = next(r for r in results if r["op"] == self.oracle_query)
        if res["error"] is not None:
            return
        sys.path.insert(0, str(self.ctx.root / "tests"))
        import oracle_harness

        expected = oracle_harness.run_oracle(
            REGISTRY[self.oracle_query].oracle, str(self.sf_dir))
        self.oracle_problems = oracle_harness.compare(
            res["out"][0].toPandas(), expected, strict=True)
        res["ok"] = res["ok"] and not self.oracle_problems

    def report(self, passes: list[list[dict]]) -> dict:
        return {}

    def checks(self) -> dict:
        return {"oracle_query": self.oracle_query,
                "oracle_problems": self.oracle_problems}

    def instrument(self, tracer) -> None:
        """The suite spans are opened by the op itself."""

    def layers(self, spans: Spans, results: list[dict]) -> dict:
        build, action = spans.named("suite.build"), spans.named("suite.action")
        ops = spans.roots()
        m = {
            "suite.build_s": sum(s["wall_s"] for s in build),
            "suite.build_jobs": sum(s["jobs"] for s in build),
            "suite.driver_gap_s": sum(s["gap_s"] for s in ops),
            "suite.action_s": sum(s["wall_s"] for s in action),
            "suite.action_jobs": sum(s["jobs"] for s in action),
        }
        for key in ("stages", "tasks", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "python_bytes"):
            m[f"suite.{key}"] = sum(s[key] for s in ops)
        for s in build:
            m[f"suite.{s['query']}.build_s"] = s["wall_s"]
        for s in action:
            m[f"suite.{s['query']}.action_s"] = s["wall_s"]
        return m


WORKLOADS = {"medallion_refresh": MedallionRefresh, "query_suite": QuerySuite}
