"""Serving layer: the reference's FastAPI endpoints, engine-side.

The reference serves three endpoints (``main.py``):

- ``GET /map?borough&year`` (main.py:200-248): downloads a 515 MB
  GeoJSON per request, json.load's it, filters features in a Python
  loop, renders folium. Here: the features live as hive-partitioned
  parquet (Borough, year) and the same request is a partition-pruned
  scan plus the C13 color binning — no full-file parse, no download.
  The table's schema is read once when the server starts; each request
  lists the partitions afresh, so a republished table is served fresh.
- ``POST /predict?model=`` (main.py:278-310): joblib-loaded sklearn
  model, 1-row DataFrame, expm1 back-transform. Here: an MLlib
  PipelineModel loaded once (S10); a request is one direct call to its
  final stage's ``predict`` on a dense vector — no DataFrame, no Spark
  job (M9).
- ``GET /filter`` (main.py:250-275): static form — trivial, out of
  scope.

These stay thin, synchronous functions: serving is driver-side by
design (SURVEY §3.3); the engine's job is to make the underlying query
cheap, which partition pruning does, and to stay out of /predict,
which needs no query at all.
"""

from __future__ import annotations

import math

from pyspark.ml import PipelineModel, PredictionModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.linalg import Vectors
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.ml.pipelines import FEATURES
from nyc_traffic_insight_spark.sources.catalog import write_partitioned


def volume_color(vol: Column | str) -> Column:
    """C13 (main.py:215-225): volume → marker color bucket."""
    v = F.col(vol) if isinstance(vol, str) else vol
    return (
        F.when(v > 20, "red")
        .when(v > 10, "orange")
        .when(v > 5, "yellow")
        .otherwise("green")
    )


def publish_map_table(features: DataFrame, path: str) -> None:
    """One-time layout step replacing the per-request download: features
    partitioned by the request keys (Borough, year)."""
    write_partitioned(
        features.withColumn("year", F.year("ts")), path, "Borough", "year"
    )


def map_view(table: DataFrame, borough: str, year: int) -> DataFrame:
    """The /map query (main.py:183-191 filter + :215-225 styling) over a
    ``publish_map_table`` table: case-insensitive borough + year
    equality, color-binned. Both predicates hit partition columns →
    directory pruning, so request cost is proportional to ONE
    borough-year slice regardless of total table size. A pure
    transform: the caller decides how ``table`` is read (``serve``
    reads it with the schema fixed at start-up, so a request infers
    nothing from parquet footers)."""
    return table.filter(
        (F.lower("Borough") == borough.lower()) & (F.col("year") == year)
    ).withColumn("color", volume_color("Volume"))


class PredictService:
    """The /predict path: model loaded once (double-checked in the
    reference, main.py:108-155; trivially once here) and served by
    calling its final stage directly, with expm1 back-transform for
    log-trained models (C11).

    Every ``ml/pipelines.py`` fit has the shape ``[VectorAssembler over
    FEATURES, <PredictionModel>]``. The assembler only packs the
    features into a vector in FEATURES order, so ``predict`` packs the
    request the same way and makes one py4j call into the stage's JVM
    ``predict(features)`` — the method ``transform`` runs per row. That
    skips the analyse → plan → schedule → Python-worker round trip a
    1-row DataFrame costs, and gives the same value bit for bit
    (``single_row_inference`` is the reference form). A model of any
    other shape is rejected at load."""

    def __init__(self, spark: SparkSession, model_path: str, log_target: bool = False):
        model = PipelineModel.read().session(spark).load(model_path)
        stages = model.stages
        if not (
            len(stages) == 2
            and isinstance(stages[0], VectorAssembler)
            and stages[0].getInputCols() == FEATURES
            and isinstance(stages[1], PredictionModel)
            and stages[1].getFeaturesCol() == stages[0].getOutputCol()
        ):
            got = [
                type(st).__name__
                + (f"(inputCols={st.getInputCols()})" if isinstance(st, VectorAssembler) else "")
                for st in stages
            ]
            raise ValueError(
                f"unsupported model at {model_path}: stages {got}, want "
                f"[VectorAssembler(inputCols={FEATURES}), PredictionModel]"
            )
        self._stage = stages[1]
        self._log_target = log_target

    def predict(self, features: dict[str, float]) -> float:
        """One prediction. A missing feature raises ``KeyError``; a
        non-numeric or NaN one raises ``ValueError`` (the assembler's
        ``handleInvalid="error"`` rejects NaN the same way). ±inf
        passes through, as it does through the assembler."""
        values = [float(features[f]) for f in FEATURES]
        bad = [f for f, v in zip(FEATURES, values) if math.isnan(v)]
        if bad:
            raise ValueError(f"NaN feature(s) {bad}")
        p = float(self._stage.predict(Vectors.dense(values)))
        return math.expm1(p) if self._log_target else p
