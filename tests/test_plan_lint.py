"""lint_plan triggers on each planned pathology and stays quiet on
clean plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from bio_lakehouse_spark.engine.plan_lint import lint_plan


def test_clean_plan_lints_clean(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 100)
        .groupBy("o_orderpriority")
        .count()
    )
    assert lint_plan(df) == []


def test_cartesian_flagged(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    df = a.hint("shuffle_replicate_nl").crossJoin(b)
    problems = lint_plan(df)
    assert any("CartesianProduct" in p for p in problems)


def test_bnlj_flagged_and_allowable(spark):
    a = spark.range(1000)
    b = spark.range(5).withColumnRenamed("id", "id2")
    df = a.crossJoin(F.broadcast(b))
    assert any("BroadcastNestedLoopJoin" in p for p in lint_plan(df))
    assert not any(
        "BroadcastNestedLoopJoin" in p
        for p in lint_plan(df, allow_bnlj=True)
    )


def test_row_udf_flagged(spark):
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    df = spark.range(10).select(slow("id").alias("y"))
    assert any("BatchEvalPython" in p for p in lint_plan(df))


def test_opaque_predicate_warns(spark, sf_dir):
    from pyspark.sql.types import BooleanType

    opaque = F.udf(lambda x: x > 100, BooleanType())
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        opaque("o_totalprice")
    )
    problems = lint_plan(df)
    assert any("PushedFilters: []" in p or "opaque" in p for p in problems)


def test_shuffle_heavy_warns(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    for i in range(5):
        df = df.repartition(4, "k").groupBy("k").count().withColumnRenamed(
            "count", "k2"
        ).selectExpr("k", "k2 as k_next").withColumnRenamed("k_next", "c")
        df = df.select(F.col("k"), F.col("c").alias(f"c{i}")).repartition(
            3, f"c{i}"
        )
    problems = lint_plan(df, max_exchanges=3)
    assert any("Exchange" in p for p in problems)


def test_unpartitioned_window_inventory_is_pinned():
    """Static regression net for the scale-killer pattern the round-9
    work eradicated: an unpartitioned `Window.orderBy` sorts its
    whole input in ONE task. Every site below was individually
    audited (VERDICT r9 + r10): each runs over a bounded frame —
    `limit(k)` heads, daily/weekly-grain aggregates, vocab/centroid
    tables, distinct-value or |partitions|-row frames — never over
    raw fact rows. Adding a NEW site (or moving one into a new file)
    changes this inventory and fails here: either partition the
    window, rank via `operators.aggregates.dense_ids` /
    `windows.global_row_number` (range-partitioned, no global sort),
    or re-audit the site as bounded and update the pin.

    The silver normalizers, gold models and views are Spark SQL text
    under `bio/`, so their windows are counted there as SQL: each
    `OVER (ORDER BY` or named `WINDOW w AS (ORDER BY` line is one
    unpartitioned window, all over one person's daily readings or
    daily- or weekly-grain frames. (The other modules' SQL
    text is DuckDB oracle SQL, which this net does not cover.)"""
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def inventory(pattern: str, where: str) -> dict[str, int]:
        out = subprocess.run(
            ["grep", "-rcE", pattern, where, "--include=*.py"],
            capture_output=True, text=True, cwd=root,
        ).stdout
        counts = {}
        for line in out.splitlines():
            path, n = line.rsplit(":", 1)
            if int(n):
                counts[path.replace("\\", "/")] = int(n)
        return counts

    assert inventory(r"(OVER|AS) \(ORDER BY", "bio_lakehouse_spark/bio") == {
        "bio_lakehouse_spark/bio/gold.py": 22,
        "bio_lakehouse_spark/bio/silver.py": 1,
        "bio_lakehouse_spark/bio/views.py": 12,
    }, (
        "unpartitioned SQL-window inventory of the gold models and views "
        "changed - audit the new/moved site for boundedness, then update "
        "this pin"
    )
    counts = inventory(r"Window\.orderBy", "bio_lakehouse_spark")
    assert counts == {
        "bio_lakehouse_spark/suite/stats_queries.py": 17,
        "bio_lakehouse_spark/operators/stats.py": 12,
        "bio_lakehouse_spark/suite/hypothesis_queries.py": 4,
        "bio_lakehouse_spark/suite/text_queries.py": 3,
        "bio_lakehouse_spark/suite/window_queries.py": 2,
        "bio_lakehouse_spark/operators/similarity.py": 2,
        "bio_lakehouse_spark/operators/aggregates.py": 2,
        "bio_lakehouse_spark/suite/similarity_queries.py": 1,
        "bio_lakehouse_spark/suite/pipeline_queries.py": 1,
        "bio_lakehouse_spark/operators/trees.py": 1,
        "bio_lakehouse_spark/operators/sampling.py": 1,
        "bio_lakehouse_spark/operators/profiling.py": 1,
        "bio_lakehouse_spark/operators/dedup.py": 1,
    }, (
        "unpartitioned-Window inventory changed - audit the new/moved "
        "site for boundedness (see docstring), then update this pin"
    )


def test_no_default_arg_lambdas_in_higher_order_functions():
    """AST net for the r10 minhash-prefix bug class: a lambda passed
    to F.transform/F.filter/F.exists/F.forall with a DEFAULT argument
    (`lambda s, j=j: ...`) silently changes arity — Spark counts the
    default as a real parameter, passes the ARRAY INDEX into it, and
    the closure variable is shadowed by a Column (the r10 sf0.1 sweep
    caught exactly this hashing a stringified Column). Close over
    loop variables with a factory function instead. zip_with/
    aggregate/map_zip_with legitimately take 2-3 arg lambdas, but a
    DEFAULT in the signature is never right in any Spark HOF — it
    either shifts arity or dead-weights the default."""
    import ast
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bio_lakehouse_spark",
    )
    hofs = {
        "transform", "filter", "exists", "forall", "aggregate",
        "zip_with", "map_zip_with", "map_filter", "transform_keys",
        "transform_values", "array_sort", "reduce",
    }
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in hofs
                ):
                    continue
                for arg in list(node.args) + [k.value for k in node.keywords]:
                    if isinstance(arg, ast.Lambda) and arg.args.defaults:
                        offenders.append(f"{path}:{arg.lineno}")
    assert offenders == [], (
        "default-arg lambda inside a Spark higher-order function "
        f"(use a closure factory instead): {offenders}"
    )
