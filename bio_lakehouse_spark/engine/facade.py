"""SQL query facade: the engine's front door for interactive / NL-SQL
clients.

Port of the reference's AthenaClient + safety gate semantics onto
``spark.sql``:

- **execute** (S8, ref insights_engine/core/athena_client.py:41-88):
  md5(sql)-keyed DataFrame cache with a TTL (default 600 s, the
  reference's 10 minutes), safety gate, optional query log.
- **safety gate** (P9, ref insights_engine/core/nl_to_sql.py:177-191):
  only SELECT / WITH statements may execute — DDL/DML from an
  untrusted (LLM) source is refused before the parser ever sees it.
- **schema introspection** (S9, ref athena_client.py:151-226):
  ``{table: [(name, type)]}`` plus a DDL text rendering for LLM
  prompt injection, cached for the engine's lifetime.
- **query log** (S15, ref insights_engine/core/query_log.py:24-58):
  append-only parquet rows (sql, md5, started_at, duration_ms, rows,
  success, error) — the SQLite log as an engine table.

The cache stores the DataFrame handle and its row count, not the
fetched rows. A hit still passes the safety gate, then skips
``spark.sql``, the count job and the log write; a caller that fetches
the hit (``toPandas()``, ``collect()``) runs the query again, one job
per fetch. Callers may keep composing on the handle lazily.
"""

from __future__ import annotations

import hashlib
import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


class UnsafeSqlError(ValueError):
    """Raised when a statement fails the SELECT/WITH-only gate."""


@dataclass
class _CacheEntry:
    at: float
    df: DataFrame
    n_rows: int


_WRITE_ROOTS = re.compile(
    r"(Statement|Command)$"
    r"|^(InsertInto|DeleteFrom|UpdateTable|MergeInto"
    r"|CreateTable|ReplaceTable|DropTable|AlterTable)"
)


def plan_is_query(spark: SparkSession, sql: str) -> bool:
    """Parser-level half of the P9 gate (r10): Spark's grammar allows
    a WITH prefix on DML — ``WITH t AS (...) INSERT INTO tgt ...``
    (likewise DELETE/UPDATE/MERGE) sails through any first-token
    check. Parse the statement, unwrap ``UnresolvedWith``, and reject
    when the root is a write statement/command node. String literals
    can't false-positive (the check reads the PLAN, not the text). A
    statement that doesn't parse is passed through — ``spark.sql``
    raises its own error and nothing executes."""
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        name = plan.getClass().getSimpleName()
        while name == "UnresolvedWith":
            plan = plan.child()
            name = plan.getClass().getSimpleName()
    except Exception:  # noqa: BLE001 — parse error: defer to spark.sql
        return True
    return not _WRITE_ROOTS.search(name)


def sql_is_safe(sql: str) -> bool:
    """P9 textual half: strip comments/whitespace; the first token
    must be SELECT or WITH. ``QueryEngine.execute`` additionally runs
    :func:`plan_is_query`, which closes the WITH-wrapped-DML hole
    this check alone cannot see."""
    lines = []
    for line in sql.splitlines():
        stripped = line.strip()
        if stripped.startswith("--"):
            continue
        lines.append(line)
    text = "\n".join(lines).strip()
    while text.startswith("/*"):
        end = text.find("*/")
        if end < 0:
            return False
        text = text[end + 2 :].strip()
    first = text.split(None, 1)[0].upper() if text else ""
    return first in ("SELECT", "WITH")


class QueryEngine:
    """Session-scoped SQL facade with cache + gate + log + catalog DDL."""

    def __init__(
        self,
        spark: SparkSession,
        cache_ttl_s: float = 600.0,
        log_path: str | None = None,
    ) -> None:
        self.spark = spark
        self.cache_ttl_s = cache_ttl_s
        self.log_path = log_path
        self._cache: dict[str, _CacheEntry] = {}
        self._schema_cache: dict[str, list[tuple[str, str]]] | None = None

    # -- S8 -----------------------------------------------------------------
    def execute(self, sql: str, use_cache: bool = True) -> DataFrame:
        """Gate → cache probe → spark.sql → count-materialize → log."""
        if not sql_is_safe(sql) or not plan_is_query(self.spark, sql):
            self._log(sql, 0.0, -1, False, "blocked by safety gate")
            raise UnsafeSqlError(
                "only SELECT/WITH statements may execute through the facade"
            )
        key = hashlib.md5(sql.encode()).hexdigest()
        now = time.time()
        if use_cache:
            hit = self._cache.get(key)
            if hit is not None and now - hit.at < self.cache_ttl_s:
                return hit.df
        t0 = time.time()
        try:
            df = self.spark.sql(sql)
            n = df.count()
        except Exception as e:  # noqa: BLE001
            self._log(sql, (time.time() - t0) * 1000, -1, False, str(e)[:500])
            raise
        self._log(sql, (time.time() - t0) * 1000, n, True, None)
        self._cache[key] = _CacheEntry(at=now, df=df, n_rows=n)
        return df

    def invalidate_cache(self) -> None:
        self._cache.clear()

    # -- S9 -----------------------------------------------------------------
    def get_schema(self) -> dict[str, list[tuple[str, str]]]:
        """{table: [(column, spark_type)]} across current-catalog
        tables/views, cached for the engine's lifetime. Column types
        come from each table's resolved schema, which runs no Spark
        job; ``catalog.listColumns`` runs several per table and renders
        the same type strings."""
        if self._schema_cache is None:
            out: dict[str, list[tuple[str, str]]] = {}
            for t in self.spark.catalog.listTables():
                qual = (
                    f"{t.namespace[0]}.{t.name}" if t.namespace else t.name
                )
                fields = self.spark.table(qual).schema.fields
                out[t.name] = [(f.name, f.dataType.simpleString()) for f in fields]
            self._schema_cache = out
        return self._schema_cache

    def get_schema_ddl(self) -> str:
        """CREATE TABLE-ish DDL text for LLM prompt injection."""
        parts = []
        for table, cols in sorted(self.get_schema().items()):
            body = ",\n".join(f"  {n} {t}" for n, t in cols)
            parts.append(f"CREATE TABLE {table} (\n{body}\n);")
        return "\n\n".join(parts)

    # -- S15 ----------------------------------------------------------------
    def _log(
        self,
        sql: str,
        duration_ms: float,
        n_rows: int,
        success: bool,
        error: str | None,
    ) -> None:
        if self.log_path is None:
            return
        from bio_lakehouse_spark.sources.sinks import append_log

        append_log(
            self.spark,
            self.log_path,
            [
                {
                    "sql": sql,
                    "sql_md5": hashlib.md5(sql.encode()).hexdigest(),
                    "started_at": time.time(),
                    "duration_ms": float(duration_ms),
                    "n_rows": int(n_rows),
                    "success": bool(success),
                    "error": error,
                }
            ],
            schema=(
                "sql string, sql_md5 string, started_at double, "
                "duration_ms double, n_rows long, success boolean, "
                "error string"
            ),
        )
