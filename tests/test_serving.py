"""serving.py: the three reference endpoints, engine-side."""

from __future__ import annotations

import contextlib
import io
import math

import pytest
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.serving import (
    PredictService,
    map_view,
    publish_map_table,
    volume_color,
)
from nyc_traffic_insight_spark.sources import load_table
from tests.conftest import SF_SMOKE


def _features(spark):
    # events standing in for the traffic features table
    return load_table(spark, SF_SMOKE, "events").select(
        F.col("event_id").alias("RequestID"),
        "ts",
        (F.col("value") * 30).alias("Volume"),
        F.concat(F.lit("b"), (F.col("user_id") % 5)).alias("Borough"),
    )


def test_map_view_is_partition_pruned(spark, tmp_path):
    path = str(tmp_path / "map_table")
    feats = _features(spark)
    publish_map_table(feats, path)

    year = feats.select(F.year("ts")).first()[0]
    view = map_view(spark.read.parquet(path), "B3", year)  # case-insensitive borough

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        view.explain("formatted")
    plan = buf.getvalue()
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "b3" in pf.lower() and "year" in pf

    rows = view.collect()
    want = feats.filter(
        (F.lower("Borough") == "b3") & (F.year("ts") == year)
    ).count()
    assert len(rows) == want > 0
    assert {r["color"] for r in rows} <= {"red", "orange", "yellow", "green"}


def test_volume_color_bins(spark):
    df = spark.createDataFrame([(25.0,), (15.0,), (7.0,), (2.0,)], "v DOUBLE")
    got = [r["c"] for r in df.select(volume_color("v").alias("c")).collect()]
    assert got == ["red", "orange", "yellow", "green"]


_ROW = {
    "l_quantity": 10.0,
    "l_discount": 0.05,
    "l_tax": 0.04,
    "p_retailprice": 1500.0,
    "qty_price": 15000.0,
    "mth": 6.0,
    "wd": 2.0,
}


def _rows(spark):
    """The hand row, six feature-table rows, and a row with four zero
    features (the assembler emits that one as a sparse vector)."""
    from nyc_traffic_insight_spark.ml.pipelines import FEATURES, feature_table

    table = feature_table(spark, SF_SMOKE).select(FEATURES).limit(6)
    sparse = dict(_ROW, l_discount=0.0, l_tax=0.0, mth=0.0, wd=0.0)
    return [_ROW, sparse] + [r.asDict() for r in table.collect()]


@pytest.fixture(scope="module")
def lr_served(spark, tmp_path_factory):
    from nyc_traffic_insight_spark.ml.pipelines import (
        feature_table,
        fit_linear_regression,
    )

    model = fit_linear_regression(feature_table(spark, SF_SMOKE))
    path = str(tmp_path_factory.mktemp("serving") / "lr_model")
    model.write().overwrite().save(path)
    return model, path


def test_predict_service_round_trip(spark, lr_served):
    from nyc_traffic_insight_spark.ml.pipelines import single_row_inference

    model, path = lr_served
    svc = PredictService(spark, path)
    assert svc.predict(_ROW) > 0
    # served prediction == the 1-row pipeline transform, bit for bit
    # (same model, S10), dense and sparse assembler outputs alike
    for row in _rows(spark):
        assert svc.predict(row) == single_row_inference(spark, model, row), row


def test_predict_service_log_target_gbt(spark, tmp_path):
    from nyc_traffic_insight_spark.ml.pipelines import (
        feature_table,
        fit_gbt,
        single_row_inference,
    )

    model = fit_gbt(feature_table(spark, SF_SMOKE), max_iter=3)
    path = str(tmp_path / "gbt_model")
    model.write().overwrite().save(path)

    svc = PredictService(spark, path, log_target=True)
    for row in _rows(spark):
        want = math.expm1(single_row_inference(spark, model, row))
        assert svc.predict(row) == want, row


def test_predict_submits_no_spark_job(spark, lr_served):
    from nyc_traffic_insight_spark.ml.pipelines import single_row_inference

    model, path = lr_served
    svc = PredictService(spark, path)
    sc = spark.sparkContext
    group = "test-predict-no-job"
    sc.setJobGroup(group, "PredictService.predict")
    try:
        svc.predict(_ROW)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # control: the 1-row DataFrame form does land in the group
        single_row_inference(spark, model, _ROW)
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_predict_service_concurrent_callers(spark, lr_served):
    """The HTTP shell shares one service across handler threads: more
    threads than cores, each call equal to the single-threaded value."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    _, path = lr_served
    svc = PredictService(spark, path)
    rows = _rows(spark)
    want = [svc.predict(r) for r in rows]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futs = [pool.submit(lambda: [svc.predict(r) for r in rows]) for _ in range(32)]
            got = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert got == [want] * 32


def test_predict_rejects_nan_and_missing_features(spark, lr_served):
    _, path = lr_served
    svc = PredictService(spark, path)
    with pytest.raises(ValueError, match="NaN"):
        svc.predict(dict(_ROW, l_tax=float("nan")))
    with pytest.raises(KeyError):
        svc.predict({k: v for k, v in _ROW.items() if k != "wd"})
    # ±inf passes through, as through the assembler
    assert math.isinf(svc.predict(dict(_ROW, qty_price=float("inf"))))


def test_predict_service_rejects_other_model_shapes(spark, lr_served, tmp_path):
    from pyspark.ml import PipelineModel
    from pyspark.ml.feature import VectorAssembler

    from nyc_traffic_insight_spark.ml.pipelines import FEATURES

    model, _ = lr_served
    lr = model.stages[1]
    for name, stages in (
        ("reordered", [VectorAssembler(inputCols=FEATURES[::-1], outputCol="features"), lr]),
        ("no_predictor", [model.stages[0]]),
    ):
        path = str(tmp_path / name)
        PipelineModel(stages).write().overwrite().save(path)
        with pytest.raises(ValueError, match="VectorAssembler") as ex:
            PredictService(spark, path)
        assert "unsupported model" in str(ex.value), name
