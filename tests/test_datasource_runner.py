"""The table's Python DataSources, driven the way an outside consumer
drives them: from a driver whose cwd is NOT the repo and whose
``PYTHONPATH`` is unset, so neither Spark's Python workers nor its
data-source runner can import ``video_streamer_spark``. Only the
driver puts the repo on ``sys.path``.

In-repo test sessions cannot see a runner import error: their workers
start in the repo root and import the package from there. This test
runs a child process that can (``tests/test_shipping_audit.py`` pins
the same rule statically)."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

CHILD = r'''
import sys
import time

sys.path.insert(0, REPO)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .getOrCreate()
)

from video_streamer_spark.operators.table_format import (
    clone_table,
    create_table,
    current_version,
    delete_keys,
    merge_into,
    read_table,
    table_changes,
    version_at_timestamp,
)
from video_streamer_spark.sources.cdf_source import register_cdf_source
from video_streamer_spark.sources.snapshot_source import (
    register_snapshot_source,
)


def rows(df, cols=None):
    return sorted(tuple(r) for r in df.select(*(cols or df.columns)).collect())


def snap(path, **opts):
    r = spark.read.format("table_snapshot").option("path", path)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


path, clone = f"{WORK}/t", f"{WORK}/c"
create_table(
    spark.range(0, 20).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    ),
    path,
    ["k"],
    n_buckets=4,
)
time.sleep(0.05)
t_v1 = time.time()
time.sleep(0.05)
merge_into(
    spark,
    path,
    spark.createDataFrame([(1, "x1"), (40, "x40")], "k bigint, v string"),
)
delete_keys(spark, path, spark.createDataFrame([(2,)], "k bigint"))
clone_table(path, clone)
latest = current_version(path)

register_snapshot_source(spark)
for v in range(1, latest + 1):
    assert rows(snap(path, version=v)) == rows(read_table(spark, path, v)), v
assert version_at_timestamp(path, t_v1) == 1
assert rows(snap(path, timestamp=t_v1)) == rows(read_table(spark, path, 1))
live = rows(snap(clone))
assert live == rows(read_table(spark, clone)), "clone"
assert len(live) == 20 and (2, "v2") not in live, live  # tombstoned key

register_cdf_source(spark)
q = (
    spark.readStream.format("table_cdf")
    .option("path", path)
    .option("startingVersion", 1)
    .load()
    .writeStream.format("memory")
    .queryName("feed")
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination(300)
assert q.exception() is None, q.exception()
cols = ["k", "v", "_change_type"]
fed = rows(spark.table("feed"), cols)
want = rows(table_changes(spark, path, 1, latest), cols)
assert fed == want, (fed, want)
assert (2, "v2", "delete") in fed, fed
print("RUNNER_OK", latest, len(fed))
'''


def test_table_sources_read_from_an_external_cwd(tmp_path):
    script = tmp_path / "drive.py"
    script.write_text(
        f"REPO = {str(REPO)!r}\nWORK = {str(tmp_path)!r}\n" + CHILD
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "RUNNER_OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )
