"""Regenerate ``eventlog_small/``: a trimmed event log of a local[2]
session that runs three job groups (see ``test_eventlog.test_recorded_log``).

    python3 perfbench/tests/data/make_eventlog.py
"""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
}
DROP_TASK_KEYS = ("Task Executor Metrics",)


def boom(x):
    raise ValueError("deliberate task failure")


def main() -> None:
    out = Path(__file__).parent / "eventlog_small"
    with tempfile.TemporaryDirectory() as tmp:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", Path(tmp).as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.task.maxFailures", "1")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup("agg", "groupBy over 1000 rows")
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        sc.setJobGroup("udf", "pandas UDF over 100 rows")
        spark.range(100).select(plus_one("id")).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("bad", "a failing task")
        try:
            sc.parallelize([1], 1).map(boom).collect()
        except Exception:
            pass
        spark.stop()
        events = []
        for p in sorted(Path(tmp).rglob("events_*")):
            for line in p.read_text().splitlines():
                e = json.loads(line)
                if e["Event"] in KEEP:
                    for k in DROP_TASK_KEYS:
                        e.pop(k, None)
                    if e["Event"] == "SparkListenerJobStart":
                        e["Properties"] = {k: v for k, v in e["Properties"].items()
                                           if k.startswith(("spark.jobGroup", "spark.sql.execution.id"))}
                        e.pop("Stage Infos", None)
                    events.append(json.dumps(e))
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir()
    (out / "events_1_local-recorded").write_text("\n".join(events) + "\n")


if __name__ == "__main__":
    main()
