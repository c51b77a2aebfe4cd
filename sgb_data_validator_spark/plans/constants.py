"""Shared driver-testdata vocabulary and the events→transcript projection.

Lives in its own leaf module (it imports no other plans module) so every
plans module can import it at module-init time without the
driver->monitor->driver import cycle that made `import monitor_queries`
order-dependent.

The projection is the ONE definition of the canonical transcript
ordering over the driver's `events` table: conv per user
(``conv_id = 'u' || user_id``), dense ``turn_idx`` by (ts, event_id),
``role = event_type``. :func:`events_turns` builds it in Spark and
:func:`sql_events_turns` is its DuckDB twin; callers append whatever
other columns they need (text, ts, part, user_id, a tool mapping).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENT_TYPES = ["click", "view", "purchase", "signup"]  # 'error' ⇒ vocab violation
LANGS = ["en", "de", "fr", "es"]  # 'zh' ⇒ vocab violation
_IN_TYPES = ", ".join(repr(x) for x in EVENT_TYPES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_turns(ev: DataFrame, *extra: Column | str) -> DataFrame:
    """conv_id, turn_idx, role, then ``extra`` — the canonical
    transcript projection of ``ev``. NULL ts/event_id sort first, as
    the SQL twin pins explicitly."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        *extra,
    )


def sql_events_turns(*extra: str) -> str:
    """SQL twin of :func:`events_turns`, to embed as ``turns AS (...)``.
    NULLS FIRST is pinned explicitly: Spark's window default is
    nulls-first while DuckDB's is nulls-last, so an unpinned ORDER BY
    would renumber a NULL-ts turn differently across engines."""
    cols = [
        "'u' || user_id::VARCHAR AS conv_id",
        "cast(row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) - 1 AS int) AS turn_idx",
        "event_type AS role",
        *extra,
    ]
    return "\n  SELECT " + ",\n         ".join(cols) + "\n  FROM events\n"


def day_part() -> Column:
    return F.date_format("ts", "yyyy-MM-dd").alias("part")


SQL_DAY_PART = "strftime(ts, '%Y-%m-%d') AS part"


def tool_dirt() -> Column:
    """The fixture's deterministic tool mapping: 'browser' on click
    turns, a stray 'shell' on every 97th user's non-click turns (fires
    BOTH ref.tool and tool.role_consistency), NULL otherwise."""
    return (
        F.when(F.col("event_type") == "click", F.lit("browser"))
        .when(F.col("user_id") % 97 == 0, F.lit("shell"))
        .alias("tool")
    )


SQL_TOOL_DIRT = """CASE WHEN event_type = 'click' THEN 'browser'
              WHEN user_id % 97 = 0 THEN 'shell' END AS tool"""
