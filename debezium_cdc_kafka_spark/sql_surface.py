"""Generic SQL execution + idempotent DDL — the reference's DB-facing ops.

Maps:
- `execute_sql_query(con, sql)` (reference app/utils/postgres.py:65–77,
  arbitrary DDL/DML strings with logged errors)   → `execute_sql`
- `init_postgres_trg` (postgres.py:80–112: CREATE SCHEMA IF NOT EXISTS +
  CREATE TABLE IF NOT EXISTS, idempotent re-init) → `init_target_table`

Spark's catalog replaces the attached-Postgres catalog: databases ≙
schemas, Parquet-backed tables ≙ the replica table. Everything is
re-runnable — the reference's idempotency contract is preserved.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from .sources.cdc_events import after_image
from .sources.workload import CUSTOMERS_STATE_SCHEMA

log = logging.getLogger(__name__)

TARGET_DB = "inventory"
TARGET_TABLE = "customers"

# The reference's replica schema (postgres.py:100–107), id + 3 varchars:
# the customers row, derived from the table's state schema. The key is
# declared NOT NULL, but Parquet tables do not enforce it: the envelope
# decode does, by flagging a record with no key as malformed.
TARGET_DDL_COLUMNS = ", ".join(
    f"{f.name} {f.dataType.simpleString().upper()}" + (" NOT NULL" if f.name == "id" else "")
    for f in after_image(CUSTOMERS_STATE_SCHEMA).fields
)


def execute_sql(spark: SparkSession, statement: str) -> DataFrame | None:
    """Run one SQL string; log and re-raise on failure (the reference logs
    and swallows — we keep the log but propagate, matching the engine's
    strict-failure posture elsewhere)."""
    try:
        return spark.sql(statement)
    except Exception:
        log.exception("SQL failed: %s", statement[:200])
        raise


def init_target_table(
    spark: SparkSession,
    db: str = TARGET_DB,
    table: str = TARGET_TABLE,
    location: str | None = None,
) -> str:
    """Idempotent target init: CREATE DATABASE IF NOT EXISTS +
    CREATE TABLE IF NOT EXISTS (Parquet-backed). Returns the fully
    qualified table name. Safe to call on every pipeline start, exactly
    like the reference calls init before spawning workers (main.py:14)."""
    execute_sql(spark, f"CREATE DATABASE IF NOT EXISTS {db}")
    loc = f" LOCATION '{location}'" if location else ""
    execute_sql(
        spark,
        f"CREATE TABLE IF NOT EXISTS {db}.{table} ({TARGET_DDL_COLUMNS}) USING PARQUET{loc}",
    )
    return f"{db}.{table}"
