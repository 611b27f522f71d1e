"""Regenerate the tiny event log that test_eventlog.py reads.

    python3 perfbench/tests/make_eventlog.py   # from the repository root

Runs two small queries under one benchmark-style iteration tag on a
local[2] session (a join through a shuffle, and an aggregate started from
a second thread, which does not inherit the tag) and writes the log plus
the Python-measured window next to this file. Both queries run once
before the log starts, as the benchmark's warm-up does, so the logged
window holds warm planning. The inputs are sized so that the window
lasts about as long as a benchmark iteration (~1 s): the Python-side
time before the first SQL execution starts (~40 ms), which the log
cannot see, is then a small share of it, as in the benchmark. The copy keeps only the job properties the
reader uses and no absolute paths.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
KEPT_PROPERTIES = ("spark.job.tags", "spark.sql.execution.id")


def main() -> None:
    from pyspark.sql import SparkSession

    from tracing import EventLog

    tmp = tempfile.mkdtemp(prefix="perfbench_log_")
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )

    def iteration() -> int:
        a = spark.range(0, 2_000_000).withColumnRenamed("id", "k")
        b = spark.range(0, 1_000_000).withColumnRenamed("id", "k")
        joined = a.join(b, "k").count()
        side = threading.Thread(target=lambda: spark.range(0, 20_000_000).selectExpr("sum(id)").collect())
        side.start()
        side.join()
        return joined

    try:
        for _ in range(3):  # warm the session outside the log
            iteration()
        with EventLog(spark, tmp, "test"):
            spark.addTag("it:0")
            t0 = time.time()
            joined = iteration()
            t1 = time.time()
            spark.removeTag("it:0")
    finally:
        spark.stop()
    (log_file,) = [
        os.path.join(d, f) for d, _, fs in os.walk(tmp) for f in fs if f.startswith("events_")
    ]
    with open(log_file) as src, open(os.path.join(HERE, "data", "eventlog.json"), "w") as dst:
        for line in src:
            event = json.loads(line)
            if "Properties" in event:
                event["Properties"] = {
                    k: v for k, v in (event["Properties"] or {}).items() if k in KEPT_PROPERTIES
                }
            dst.write(json.dumps(event).replace(ROOT + os.sep, "").replace(ROOT, ".") + "\n")
    with open(os.path.join(HERE, "data", "window.json"), "w") as f:
        json.dump({"tag": "it:0", "start": t0, "end": t1, "join_rows": joined}, f)
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
