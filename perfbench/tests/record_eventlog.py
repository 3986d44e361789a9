"""Records the small event log that test_eventlog.py parses.

    python3 perfbench/tests/record_eventlog.py

Three spans, each under its own job group: a JVM aggregate written to
parquet, a pandas UDF, and a driver-side sleep between two tiny jobs.
Only the event kinds the parser reads are kept, job properties are cut
down to the keys it reads, the recording directory is replaced by
``/work`` and call sites are made relative to the repository root, so
the fixture carries nothing of the machine it was made on.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
}
KEEP_PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")
SLEEP_S = 0.5


def _plus_one(v: pd.Series) -> pd.Series:
    return v + 1.0


def record(work: str) -> tuple[str, dict[str, float]]:
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{work}/log")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    plus_one = F.pandas_udf(_plus_one, "double")
    walls = {}

    sc.setJobGroup("jvm_agg", "aggregate")
    t0 = time.perf_counter()
    spark.range(0, 10_000, 1, 2).groupBy((F.col("id") % 7).alias("k")).count().write.parquet(
        f"{work}/agg.parquet"
    )
    walls["jvm_agg"] = time.perf_counter() - t0

    sc.setJobGroup("pandas_udf", "pandas udf")
    t0 = time.perf_counter()
    spark.range(0, 1000, 1, 2).select(plus_one(F.col("id").cast("double"))).collect()
    walls["pandas_udf"] = time.perf_counter() - t0

    sc.setJobGroup("sleep", "driver sleep")
    t0 = time.perf_counter()
    spark.range(0, 10, 1, 1).collect()
    time.sleep(SLEEP_S)
    spark.range(0, 10, 1, 1).collect()
    walls["sleep"] = time.perf_counter() - t0

    app = sc.applicationId
    spark.stop()
    return app, walls


def scrub(obj, work: str):
    if isinstance(obj, str):
        return obj.replace(work, "/work").replace(REPO + os.sep, "")
    if isinstance(obj, list):
        return [scrub(x, work) for x in obj]
    if isinstance(obj, dict):
        return {k: scrub(v, work) for k, v in obj.items()}
    return obj


def main() -> None:
    work = tempfile.mkdtemp(prefix="eventlog_")
    try:
        os.makedirs(f"{work}/log")
        app, walls = record(work)
        out = []
        with open(f"{work}/log/{app}") as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") not in KEEP:
                    continue
                if "Properties" in ev:
                    ev["Properties"] = {
                        k: v for k, v in ev["Properties"].items() if k in KEEP_PROPS
                    }
                out.append(json.dumps(scrub(ev, work)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(f"{HERE}/data/eventlog.jsonl", "w") as f:
        f.write("\n".join(out) + "\n")
    with open(f"{HERE}/data/spans.json", "w") as f:
        json.dump({"walls_s": walls, "sleep_s": SLEEP_S}, f, indent=1)


if __name__ == "__main__":
    main()
