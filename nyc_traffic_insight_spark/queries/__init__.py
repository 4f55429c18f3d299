"""Driver-facing query catalog.

Every operator from SURVEY.md §2 (plus the north-star large-scale
training-data operators) is registered here as a ``QuerySpec``:
a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame`` and, when the
semantics are ANSI-SQL-expressible, the equivalent DuckDB oracle SQL run
against the same parquet tables. The driver hash-compares the two at
sf=0.01 — that is the correctness gate, so the two sides of each spec are
kept textually adjacent in the defining module.

Conventions (hash-compare survival rules):
- every computed / aggregate column is aliased to the SAME name on both
  sides;
- every floating-point column whose value depends on accumulation order
  (sums, averages, products of many rows) is ``round(x, 4)``-ed on both
  sides — Spark and DuckDB sum partitions in different orders, and a raw
  double hash would flap;
- integer sums are cast to BIGINT on both sides (DuckDB widens to
  HUGEINT, Spark to BIGINT);
- queries whose raw numbers no SQL engine can recompute (MLlib
  internals, engine-seeded randomness, digest centroids) emit a
  CONTRACT AUDIT instead: exact SQL-recomputable cardinalities plus
  booleans the oracle pins TRUE — as of r7 every registered query
  carries a value oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    # DuckDB SQL text, a zero-arg callable rendered to text inside
    # load_all() (lazy oracle), or None → rows-only check. Consumers
    # reading REGISTRY[...].oracle BEFORE load_all() may see the
    # un-rendered callable.
    oracle: str | Callable[[], str] | None
    survey: str  # SURVEY.md §2 row id(s) this query covers


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | Callable[[], str] | None = None,
    survey: str = "",
):
    """Decorator: add a query to the catalog.

    ``oracle`` is the DuckDB SQL text, ``None`` (rows-only check), or
    a ZERO-ARG CALLABLE returning the text. The callable form renders
    LAZILY in ``load_all()`` after every catalog module has imported —
    use it whenever the oracle text interpolates a constant defined
    later in the module or composes another module's fragments
    (eager rendering there forces fragile placement workarounds:
    the r13 review found a register call exiled 2,400 lines from its
    builder and a comment-enforced section ordering, both of which
    this mechanism removes)."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, survey=survey)
        return fn

    return deco


def materialize(df: DataFrame) -> DataFrame:
    """The package's one lineage cut; chains call ``.transform(materialize)``.

    Reliable ``checkpoint()`` when the session has a checkpoint dir
    configured (the cluster profile: survives executor loss, required at
    100 TB where an iteration's input must be re-readable); otherwise
    ``localCheckpoint()`` — executor-loss-UNSAFE but zero-config, the
    right trade on local[*] where executors and driver share one JVM.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


# Registration-order rotation (VERDICT.md rounds 2-15). The driver's
# sf0.01 correctness gate walks REGISTRY front-to-back with a
# ~50-query budget (CORRECTNESS_r04-r15 each carried exactly 50
# rows). Round-16 ordering (changed/new entries outrank stale
# refresh, the standing convention):
#   1. the 14 queries whose code changed in r16 (the from_json
#      index-delivery rework across the ANN/PQ/D4 tiers; the widened
#      fuzzy-key scan; the DSIR window totals; the retention
#      clone-collapse; the chunked copurchase expansion) — all
#      pre-verified cross-engine this round;
#   2. the three r15 rewrites that landed AFTER the r15 rotation
#      froze and therefore have no driver-side oracle row for their
#      current code (VERDICT r15 "Next round" #1): bpe_train_merges,
#      bpe_encode_top_tokens, sketch_qdigest (join_fuzzy_key, the
#      fourth, already fronts with the changed set);
#   3. 33 of the 48-query r10-stale block, registration order
#      (win_roll_mean_3 ... sketch_histogram — bpe_train_merges /
#      bpe_encode_top_tokens already front in group 2).
# 14 + 3 + 33 = 50 fronted exactly; the r10 tail
# (agg_grouping_sets ... make_timestamp_parts, 13 entries) fronts
# next round. Everything else keeps standing r11+ evidence and
# registers last.
_CHECK_FIRST = [
    # 1. changed in r16
    "qa_dedup_retention",
    "report_copurchase_pairs",
    "join_fuzzy_key",
    "text_dsir_weights",
    "pipeline_ann_ivfpq",
    "sim_search_ivf_topk",
    "qa_ivf_index_audit",
    "emb_pq_codes",
    "sim_search_pq_adc",
    "qa_pq_distortion",
    "sim_search_lsh_buckets",
    "dedup_semantic",
    "emb_prototypes_filter",
    "pipeline_d4_curation",
    # 2. r15 late rewrites with no driver row for the current code
    "bpe_train_merges",
    "bpe_encode_top_tokens",
    "sketch_qdigest",
    # 3. r10-stale block, registration order
    "win_roll_mean_3",
    "win_time_split",
    "win_sliding_lookback",
    "win_lag_series",
    "win_ranking",
    "text_decontaminate",
    "shard_pack_greedy",
    "sample_temperature_mix",
    "text_repetition_filter",
    "pipeline_pretrain_corpus",
    "dedup_incremental_batch",
    "vocab_top_ngrams",
    "ml_linear_regression",
    "ml_random_forest",
    "ml_gbt",
    "ml_propensity_model",
    "geo_reproject_forward",
    "geo_reproject_roundtrip",
    "agg_null_counts",
    "agg_count",
    "agg_distinct_years",
    "agg_corr_matrix",
    "agg_regression_metrics",
    "agg_group_mean",
    "pivot_onehot",
    "onehot_flags",
    "agg_feature_importance_sort",
    "agg_rollup",
    "agg_cube",
    "agg_count_distinct",
    "agg_quantiles",
    "ols_closed_form",
    "sketch_histogram",
]


def load_all() -> dict[str, QuerySpec]:
    """Import every catalog module (side effect: fills REGISTRY), then
    reorder so the stalest / most-recently-changed queries register
    first (see ``_CHECK_FIRST``).

    REGISTRY is insertion-ordered and the driver's correctness gate
    walks it front-to-back with a ~50-query budget, so front placement
    decides what gets re-verified this round.
    """
    from nyc_traffic_insight_spark.queries import (  # noqa: F401
        windows,
        joins,
        scalars,
        textops,
        tokenizers,
        embcurate,  # D4 curation tier (registered since the r12 promotion)
        streamingq,
        multimodalq,
        samplingq,
        mlq,
        geoq,
        aggregates,
        behaviorq,
        core,
    )

    # render lazy (callable) oracles now — every module is imported,
    # so cross-module fragments and late-defined constants resolve
    for n, s in list(REGISTRY.items()):
        if callable(s.oracle):
            REGISTRY[n] = QuerySpec(
                name=s.name,
                builder=s.builder,
                oracle=s.oracle(),
                survey=s.survey,
            )

    unknown = set(_CHECK_FIRST) - REGISTRY.keys()
    if unknown:
        # a typo here would silently cost the query its driver-evidence
        # slot (the whole point of the rotation) — fail loudly instead,
        # and with a real raise: a bare assert is stripped under
        # `python -O`, losing this diagnostic (ADVICE r8)
        raise ValueError(
            f"_CHECK_FIRST names not in registry: {sorted(unknown)}"
        )
    front = {n: REGISTRY[n] for n in _CHECK_FIRST}
    rest = {n: s for n, s in REGISTRY.items() if n not in front}
    REGISTRY.clear()
    REGISTRY.update(front)
    REGISTRY.update(rest)
    return REGISTRY
