"""Delta-log readers must see only committed ``batch_id=*`` partitions:
a dynamic-overwrite write's in-flight ``.spark-staging-*`` directory is
not table data."""

from __future__ import annotations

import glob
import os
import shutil

from flink_orc_sink_spark.streaming import read_cdc_table


def test_read_cdc_table_ignores_inflight_staging_dir(spark, tmp_path):
    state = str(tmp_path / "cdc")
    rows = [(1, "a", 1, "U"), (2, "b", 1, "U"), (3, "c", 1, "U")]
    base = spark.createDataFrame(rows, "k long, v string, seq long, op string")
    base.selectExpr("*", "cast(k % 2 as int) as kp").write.partitionBy(
        "kp"
    ).orc(os.path.join(state, "state"))
    for marker in ("kc=k", "oc=seq"):
        os.makedirs(os.path.join(state, "layout", marker))

    # a writer mid-commit: its staged batch exists, no committed log yet
    staged = os.path.join(
        state, "state_log", ".spark-staging-x", "batch_id=1"
    )
    os.makedirs(staged)
    part = glob.glob(os.path.join(state, "state", "kp=*", "*.orc"))[0]
    shutil.copy(part, os.path.join(staged, "part-0.orc"))

    def current():
        return {
            (r.k, r.v, r.seq, r.op)
            for r in read_cdc_table(spark, state).collect()
        }

    assert current() == set(rows)

    # once batches are committed, their rows win and the staging dir
    # still stays out of the read
    spark.createDataFrame(
        [(1, "a2", 2, "U", 1, 2), (2, "b", 3, "D", 0, 3)],
        "k long, v string, seq long, op string, kp int, batch_id long",
    ).write.mode("append").partitionBy("batch_id").orc(
        os.path.join(state, "state_log")
    )
    assert current() == {(1, "a2", 2, "U"), (2, "b", 3, "D"), (3, "c", 1, "U")}
