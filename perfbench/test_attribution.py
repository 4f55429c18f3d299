"""Job-group attribution of the traced run.

    python3 -m pytest perfbench/test_attribution.py

One fixed job (4096 groups through one exchange) runs twice, each time in
its own span's job group. Both groups must read and write the same shuffle
bytes, and neither the second run nor a job started after the spans close
may add anything to an earlier group.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from tracer import Tracer, group_stats  # noqa: E402


def test_fixed_job_attributes_equal_bytes_per_group(tmp_path):
    from pyspark.sql import functions as F

    from nyc_traffic_insight_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-attribution",
        master="local[2]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.enabled": "false",
            "spark.local.dir": str(tmp_path),
        },
    )
    sc = spark.sparkContext
    try:
        tr = Tracer(True, sc)

        def job():
            (
                spark.range(200_000)
                .groupBy((F.col("id") % 4096).alias("k"))
                .count()
                .write.format("noop")
                .mode("overwrite")
                .save()
            )

        with tr.span("first", group=True) as a:
            job()
        with tr.span("second", group=True) as b:
            job()
        with tr.span("empty", group=True) as c:
            pass
        job()  # outside every span: must land in no group

        assert a["jobs"] >= 1 and a["shuffle_write_bytes"] > 0
        for key in ("shuffle_read_bytes", "shuffle_write_bytes", "tasks"):
            assert a[key] == b[key], key
        assert c["jobs"] == 0 and c["shuffle_read_bytes"] == 0
        for sp in (a, b, c):
            again = group_stats(sc, sp["group"])
            assert again == {k: sp[k] for k in again}, sp["name"]
    finally:
        spark.stop()
