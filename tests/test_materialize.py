"""One lineage-cut mechanism: ``queries.materialize``.

Builders cut lineage wherever they reuse an intermediate, because
Catalyst inlines every reference. ``materialize`` is the only place
that picks the kind of cut: reliable ``checkpoint()`` when the session
has a checkpoint dir (survives executor loss on a cluster), otherwise
``localCheckpoint()``. These tests pin both halves of that contract:
no other code in the package makes a checkpoint call, and with a
checkpoint dir set the cutting queries run only reliable checkpoints
and still match their DuckDB oracles.
"""

from __future__ import annotations

import ast
import os

import pytest

import nyc_traffic_insight_spark
from nyc_traffic_insight_spark.queries import load_all
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare

_PKG = os.path.dirname(nyc_traffic_insight_spark.__file__)
_HELPER = os.path.join(_PKG, "queries", "__init__.py")
_CUTS = {"checkpoint", "localCheckpoint"}


def _cut_sites() -> tuple[list[str], set[str]]:
    """(checkpoint attributes outside ``materialize``, those inside)."""
    outside, inside = [], set()
    for root, _, files in os.walk(_PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            tree = ast.parse(open(path).read(), path)
            helper: set[int] = set()
            if path == _HELPER:
                for fn in ast.walk(tree):
                    if isinstance(fn, ast.FunctionDef) and fn.name == "materialize":
                        helper |= {id(n) for n in ast.walk(fn)}
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute) and node.attr in _CUTS:
                    if id(node) in helper:
                        inside.add(node.attr)
                    else:
                        rel = os.path.relpath(path, _PKG)
                        outside.append(f"{rel}:{node.lineno} .{node.attr}")
    return outside, inside


def test_no_checkpoint_call_outside_materialize():
    outside, inside = _cut_sites()
    assert not outside, (
        "lineage cuts must go through queries.materialize "
        f"(df.transform(materialize)); found: {outside}"
    )
    # the walk must reach the helper's own two calls, or an empty
    # result above proves nothing
    assert inside == _CUTS


# one lineage-cutting query per module that cuts
_CUTTING = [
    "funnel_conversion",  # aggregates
    "agg_auc_exact",  # behaviorq
    "agg_wau_exact",  # samplingq
    "text_oov_rate",  # tokenizers
    "pipeline_pretrain_order",  # textops, chained cut
    "dedup_connected_components",  # textops, loop-carried cuts
]


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        yield
    finally:
        # SparkContext has no public unset; clear the JVM-side Option so
        # the shared session goes back to local checkpoints
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None


@pytest.fixture
def cut_calls(monkeypatch):
    # builders run classic DataFrames; patching pyspark.sql.DataFrame
    # would not see these calls on pyspark 4.x
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {c: 0 for c in _CUTS}
    for name in _CUTS:
        orig = getattr(DataFrame, name)

        def counted(self, *a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, counted)
    return calls


@pytest.mark.parametrize("name", _CUTTING)
def test_checkpoint_dir_makes_every_cut_reliable(
    spark, duck, checkpoint_dir, cut_calls, name
):
    spec = load_all()[name]
    got = spec.builder(spark, SF_ORACLE).toPandas()
    assert cut_calls["localCheckpoint"] == 0, cut_calls
    assert cut_calls["checkpoint"] >= 1, f"{name} no longer cuts lineage"
    compare(got, duck.sql(spec.oracle).df(), name)
