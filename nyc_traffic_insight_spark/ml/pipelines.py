"""MLlib pipelines (SURVEY.md §2.11, M1–M9).

The reference trains sklearn models over a pandas feature table
(``traffic_volume_models/*``); here the same pipeline shapes run as
MLlib Pipelines over the engine's feature table:

- M1 LinearRegression            → ml.regression.LinearRegression
- M2 RandomForestRegressor       → ml.regression.RandomForestRegressor
                                   (reference params n_estimators=100,
                                   max_depth=15, seed=42)
- M3 HistGradientBoosting        → ml.regression.GBTRegressor (closest
                                   analog; not histogram-based)
- M4 SegmentedModel              → two pipelines + when() routing
- M5 temporal / random split     → percent_rank / randomSplit
- M6 metrics                     → RegressionEvaluator (+ SQL aggs,
                                   see queries/aggregates.py)
- M7 impurity importances        → model.featureImportances
- M8 permutation importance      → permutation_importance() below
- M9 single-row inference        → model.transform(1-row DF)

sklearn↔MLlib numerics never match; invariants are tested instead
(tests/test_ml.py, SURVEY.md §5.4). The registered catalog queries use
reduced tree/iteration counts so the driver's per-round run stays fast;
the reference's exact hyperparameters are the API defaults.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import (
    GBTRegressor,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.sources import load_table

# qty_price is a C12 interaction product (features.py:31-40 builds the
# same kind of pairwise products) and the label's dominant term.
FEATURES = [
    "l_quantity",
    "l_discount",
    "l_tax",
    "p_retailprice",
    "qty_price",
    "mth",
    "wd",
]
LABEL = "label_vol"


def feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ part feature table: numeric features + calendar parts
    + log1p target, time-sorted key for the temporal split — the same
    shape as the reference's engineered table (§3.2).

    The driver's synthetic columns are mutually independent (every
    price/quantity is random noise w.r.t. every other column), so no
    model could demonstrate learning against a raw column. Like the
    reference's Vol ~ f(time, weather), the regression target is
    therefore a deterministic function of the features — dominant
    price×volume term with a discount interaction, a seasonal term, and
    keyed pseudo-noise — reproducible on both engines and actually
    learnable, so the §5.4 quality invariants (R² floor, importance
    ranking) are enforceable tests instead of vacuous ones."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    qty_price = F.col("l_quantity") * F.col("p_retailprice")
    mth = F.month("l_shipdate").cast("double")
    noise = ((F.col("l_orderkey") * F.lit(2654435761)) % 1000) / 10.0
    label = qty_price * (1.0 - F.col("l_discount")) + 50.0 * mth + noise
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(
            "l_shipdate",
            "l_quantity",
            "l_discount",
            "l_tax",
            "p_retailprice",
            qty_price.alias("qty_price"),
            mth.alias("mth"),
            F.weekday("l_shipdate").cast("double").alias("wd"),
            label.alias(LABEL),
            F.log1p(label).alias("label_log"),
        )
        .na.drop(subset=FEATURES + [LABEL])
    )


def temporal_split(
    df: DataFrame, ts_col: str = "l_shipdate", train_frac: float = 0.8
) -> tuple[DataFrame, DataFrame]:
    """W5: 80/20 split by time position via percent_rank — the exact
    reference semantic (iloc slice after a global sort). The global
    window is a single partition: correct, oracle-pinned, and only
    acceptable at test scale — training pipelines use
    temporal_split_scalable."""
    pr = F.percent_rank().over(Window.orderBy(ts_col))
    flagged = df.withColumn("__pr", pr)
    train = flagged.filter(F.col("__pr") <= train_frac).drop("__pr")
    test = flagged.filter(F.col("__pr") > train_frac).drop("__pr")
    return train, test


def temporal_split_scalable(
    df: DataFrame, ts_col: str = "l_shipdate", train_frac: float = 0.8
) -> tuple[DataFrame, DataFrame]:
    """The 100 TB form of W5: compute the cutoff timestamp as a
    distributed quantile (one aggregate, no global sort, no
    single-partition window) and split by filter — both sides stay
    partition-parallel and the filters push to the scan. Rows exactly
    at the cutoff land in train, matching percent_rank's `<=` within
    quantile resolution."""
    cutoff = df.select(
        F.percentile_approx(F.unix_micros(ts_col), train_frac, 10_000).alias("c")
    ).first()["c"]
    train = df.filter(F.unix_micros(ts_col) <= cutoff)
    test = df.filter(F.unix_micros(ts_col) > cutoff)
    return train, test


def _assembler() -> VectorAssembler:
    return VectorAssembler(inputCols=FEATURES, outputCol="features")


def _metrics_row(
    spark: SparkSession, model_name: str, pred: DataFrame, label_col: str
) -> DataFrame:
    """M6: RegressionEvaluator metrics collected into a 1-row DataFrame."""
    ev = RegressionEvaluator(labelCol=label_col, predictionCol="prediction")
    vals = {
        m: float(ev.setMetricName(m).evaluate(pred)) for m in ("r2", "rmse", "mae")
    }
    return spark.createDataFrame(
        [(model_name, vals["r2"], vals["rmse"], vals["mae"])],
        "model STRING, r2 DOUBLE, rmse DOUBLE, mae DOUBLE",
    )


def fit_linear_regression(train: DataFrame, label_col: str = LABEL) -> PipelineModel:
    """M1. (The reference also standardizes nothing; neither do we.)"""
    lr = LinearRegression(featuresCol="features", labelCol=label_col)
    return Pipeline(stages=[_assembler(), lr]).fit(train)


def fit_random_forest(
    train: DataFrame,
    label_col: str = LABEL,
    num_trees: int = 100,
    max_depth: int = 15,
    seed: int = 42,
) -> PipelineModel:
    """M2 with the reference's hyperparameters as defaults
    (backend/random_forest.py:17: n_estimators=100, max_depth=15,
    random_state=42)."""
    rf = RandomForestRegressor(
        featuresCol="features",
        labelCol=label_col,
        numTrees=num_trees,
        maxDepth=max_depth,
        seed=seed,
    )
    return Pipeline(stages=[_assembler(), rf]).fit(train)


def fit_gbt(
    train: DataFrame,
    label_col: str = "label_log",
    max_iter: int = 200,
    step_size: float = 0.1,
    max_depth: int = 6,
    seed: int = 42,
) -> PipelineModel:
    """M3: GBTRegressor as the HistGradientBoosting analog
    (HistGradientBoostingRegressor.py:118-125: max_iter=200, lr=0.1,
    depth=6, seed=42). Trains on the log1p target like the reference;
    predictions are expm1-inverted downstream (C11)."""
    gbt = GBTRegressor(
        featuresCol="features",
        labelCol=label_col,
        maxIter=max_iter,
        stepSize=step_size,
        maxDepth=max_depth,
        seed=seed,
    )
    return Pipeline(stages=[_assembler(), gbt]).fit(train)


# ----------------------------------------------------- catalog query impls

def linear_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = feature_table(spark, sf_dir)
    train, test = temporal_split_scalable(df)
    model = fit_linear_regression(train)
    return _metrics_row(spark, "linear_regression", model.transform(test), LABEL)


def random_forest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduced size (20×8) for the per-round driver run; the reference's
    100×15 comes via fit_random_forest defaults in tests."""
    df = feature_table(spark, sf_dir)
    train, test = temporal_split_scalable(df)
    model = fit_random_forest(train, num_trees=20, max_depth=8)
    rf = model.stages[-1]
    imp_sum = float(sum(rf.featureImportances.toArray()))  # M7 invariant
    metrics = _metrics_row(spark, "random_forest", model.transform(test), LABEL)
    return metrics.withColumn("importance_sum", F.round(F.lit(imp_sum), 4))


def gbt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GBT on log1p target, expm1-inverted for raw-scale metrics (C11)."""
    df = feature_table(spark, sf_dir)
    train, test = temporal_split_scalable(df)
    model = fit_gbt(train, max_iter=20)
    pred = model.transform(test).withColumn("prediction", F.expm1("prediction"))
    return _metrics_row(spark, "gbt_log_target", pred, LABEL)


def segmented_model_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 SegmentedModel: route rows to an event-vs-normal submodel by a
    boolean mask, oversample the rare segment ×5 for training, predict
    with when() routing (SegmentedModeling.py:18-108 re-expressed).

    The mask here is high-discount line items (the 'event' regime);
    the reference's is is_holiday | heavy_snow.
    """
    df = feature_table(spark, sf_dir).withColumn(
        "is_event", (F.col("l_discount") > 0.07).cast("int")
    )
    train, test = temporal_split_scalable(df)

    event_train = train.filter(F.col("is_event") == 1)
    normal_train = train.filter(F.col("is_event") == 0)
    # U2 oversample when the event segment is rare (<10% of train)
    n_event, n_total = event_train.count(), train.count()
    if n_total > 0 and n_event / n_total < 0.10:
        event_train = event_train.withColumn(
            "__dup", F.explode(F.array_repeat(F.lit(1), 5))
        ).drop("__dup")

    event_model = fit_linear_regression(event_train)
    normal_model = fit_linear_regression(normal_train)

    pe = (
        event_model.transform(test)
        .select("l_shipdate", LABEL, "is_event", F.col("prediction").alias("p_event"))
    )
    pn = normal_model.transform(test).select(
        "l_shipdate", LABEL, "is_event", F.col("prediction").alias("p_normal")
    )
    # C15 routing: np.where(mask, event_pred, normal_pred)
    routed = (
        pe.join(pn, ["l_shipdate", LABEL, "is_event"])
        .withColumn(
            "prediction",
            F.when(F.col("is_event") == 1, F.col("p_event")).otherwise(
                F.col("p_normal")
            ),
        )
    )
    metrics = _metrics_row(spark, "segmented", routed, LABEL)
    return metrics.withColumn("n_event_train", F.lit(n_event).cast("bigint"))


def permutation_importance(
    spark: SparkSession,
    model: PipelineModel,
    test: DataFrame,
    label_col: str = LABEL,
    n_repeats: int = 5,
    seed: int = 42,
) -> dict[str, float]:
    """M8: per-feature permutation importance — shuffle one feature
    column (seeded rand reassignment), measure the R² drop
    (HistGradientBoostingRegressor.py:128-137, n_repeats=5, seed=42).

    The shuffle is a distributed sort-by-rand + zip of the permuted
    column back by row position — no driver materialization.
    """
    ev = RegressionEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="r2"
    )
    base_r2 = ev.evaluate(model.transform(test))
    test = test.cache()
    perm_cols = [f"__p_{f}" for f in FEATURES]
    # r15 restructure (VERDICT r14 #4: this query's 7×n_repeats
    # sequential evaluate() jobs — each with two global-sort windows —
    # were the catalog's slowest per-call cost). One position-keyed
    # frame and ONE permuted frame per rep (all features carried
    # together: each feature still receives a uniform random
    # permutation, independence ACROSS features is not required for
    # the per-feature marginal the estimator averages); the 7×reps
    # variants are narrow projections of the cached join, unioned and
    # scored by a SINGLE model.transform pass with grouped-R² SQL
    # aggregates. 14 driver-sequential jobs → n_repeats cache builds +
    # 1 scoring job.
    w_pos = Window.orderBy(F.monotonically_increasing_id())
    based = test.withColumn("__rn", F.row_number().over(w_pos))
    variants = []
    joined_per_rep = []
    for rep in range(n_repeats):
        rnd = Window.orderBy(F.rand(seed + rep))
        perm = (
            test.select(
                *[F.col(f).alias(p) for f, p in zip(FEATURES, perm_cols)]
            )
            .withColumn("__rn", F.row_number().over(rnd))
        )
        joined = based.join(perm, "__rn").cache()
        joined_per_rep.append(joined)
        for feat in FEATURES:
            variants.append(
                joined.drop(feat)
                .withColumnRenamed(f"__p_{feat}", feat)
                .drop(*[p for p in perm_cols if p != f"__p_{feat}"])
                .drop("__rn")
                .withColumn("__feat", F.lit(feat))
                .withColumn("__rep", F.lit(rep))
            )
    allv = variants[0]
    for v in variants[1:]:
        allv = allv.unionByName(v)
    scored = model.transform(allv)
    # per-(feature, rep) R² = 1 - SSres/SStot, the RegressionEvaluator
    # formula, as one grouped aggregate; then average the drops.
    y, p = F.col(label_col), F.col("prediction")
    per = (
        scored.groupBy("__feat", "__rep")
        .agg(
            F.sum((y - p) * (y - p)).alias("ssres"),
            F.count(F.lit(1)).alias("n"),
            F.sum(y).alias("sy"),
            F.sum(y * y).alias("syy"),
        )
        # SStot = Σy² − (Σy)²/n (one-pass identity; importance
        # magnitudes are model-internal, only finiteness/dominance are
        # pinned downstream)
        .withColumn(
            "sstot", F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
        )
        .withColumn("r2", F.lit(1.0) - F.col("ssres") / F.col("sstot"))
        .groupBy("__feat")
        .agg(F.avg(F.lit(base_r2) - F.col("r2")).alias("drop"))
        .collect()
    )
    out = {row["__feat"]: float(row["drop"]) for row in per}
    for joined in joined_per_rep:
        joined.unpersist()
    test.unpersist()
    return out


def single_row_inference(
    spark: SparkSession, model: PipelineModel, row: dict[str, float]
) -> float:
    """M9: one row through the whole pipeline as a 1-row DataFrame
    (main.py:278-310) — the reference/oracle form of a prediction,
    returned on the model's own scale (no expm1 back-transform). The
    server does not run it: ``serving.PredictService`` calls the final
    stage's ``predict`` on the assembled vector directly, and its
    tests pin that value equal to this one."""
    df = spark.createDataFrame([tuple(row[f] for f in FEATURES)], FEATURES)
    return float(model.transform(df).select("prediction").first()[0])
