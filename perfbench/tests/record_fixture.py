"""Record the small Spark event log that ``test_perfbench.py`` parses.

    python3 perfbench/tests/record_fixture.py

Runs two tagged calls on a ``local[2]`` session with the event log on:
``sleepy`` sends 4 groups through ``applyInPandas``, each sleeping
``SLEEP_S`` in Python (a known lower bound for "time to run Python
workers"), and ``joiny`` is a JVM-only shuffle join. The log, minus the
SQL and environment events (the parser skips them; they are most of the
bytes), and the calls' wall-clock spans are written to ``fixtures/``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
SLEEP_S = 0.5
GROUPS = 4
_DROPPED = ('{"Event":"org.apache.spark.sql', '{"Event":"SparkListenerEnvironmentUpdate"')


def _sleepy(pdf):
    time.sleep(SLEEP_S)
    return pdf.head(1)


def main() -> None:
    root = os.path.dirname(os.path.dirname(HERE))
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from perfbench.run import shutdown_jvm
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(dir=HERE)
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + work)
            .config("spark.local.dir", work)
            .getOrCreate()
        )
        sc = spark.sparkContext
        df = spark.range(0, 20_000).select((F.col("id") % GROUPS).alias("k"), "id")
        spans = []
        for name, run in (
            ("sleepy", lambda: df.groupBy("k").applyInPandas(_sleepy, schema=df.schema).count()),
            ("joiny", lambda: df.join(df.withColumnRenamed("id", "id2"), "k").groupBy("k").count().collect()),
        ):
            sc.setJobGroup(name, name)
            start = time.time()
            run()
            spans.append({"group": name, "start": start, "end": time.time()})
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.stop()
        shutdown_jvm()

        (app_dir,) = [d for d in os.listdir(work) if d.startswith("eventlog_v2_")]
        out_dir = os.path.join(FIXTURES, "eventlog_v2_fixture")
        shutil.rmtree(FIXTURES, ignore_errors=True)
        os.makedirs(out_dir)
        for name in sorted(os.listdir(os.path.join(work, app_dir))):
            if not name.startswith("events_"):
                continue
            with open(os.path.join(work, app_dir, name), encoding="utf-8") as src, open(
                os.path.join(out_dir, name.replace(app_dir[len("eventlog_v2_"):], "fixture")),
                "w",
                encoding="utf-8",
            ) as dst:
                dst.writelines(line for line in src if not line.startswith(_DROPPED))
        with open(os.path.join(FIXTURES, "spans.json"), "w", encoding="utf-8") as fh:
            json.dump({"sleep_s": SLEEP_S, "groups": GROUPS, "spans": spans}, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
