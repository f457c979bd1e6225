"""The timing harness every Spark-side tool shares (``bench.timed``), and
an import check of ``bench`` and every ``tools/*.py`` module."""

from __future__ import annotations

import glob
import importlib
import os

import pytest
from pyspark.sql import functions as F

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "mod",
    sorted(os.path.basename(p)[:-3] for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))),
)
def test_tool_imports(mod):
    """Importing a tool runs none of its ``main``; it fails if a name the
    tool takes from ``bench`` or the package has moved."""
    m = importlib.import_module(f"tools.{mod}")
    assert callable(m.main)


def test_timed_forces_every_column(spark):
    """A query whose only failing part is a projected column raises under
    ``timed``, while ``count()`` of the same frame prunes the column and
    succeeds. Both spans carry the jobs they ran: a construct that runs a
    job (as driver-side loops do) and the failed write."""
    tracer = bench.new_tracer(spark, "test-timed")

    def build():
        spark.range(10).count()  # a driver-side job inside construct
        return spark.range(100).select(
            "id", F.when(F.col("id") >= 0, F.raise_error(F.lit("forced"))).alias("boom")
        )

    assert build().count() == 100
    with pytest.raises(Exception, match="forced"):
        bench.timed(tracer, "boom", build, 1)
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["boom.construct"].stats["jobs"] >= 1
    assert by_name["boom.execute"].stats["jobs"] >= 1


def test_timed_returns_best_run(spark):
    tracer = bench.new_tracer(spark, "test-timed-best")
    out = bench.timed(tracer, "q", lambda: spark.range(50_000).selectExpr("id", "sha2(cast(id as string), 256) h"), 3)
    runs = [
        c.wall_s + x.wall_s
        for c, x in zip(tracer.named("q.construct"), tracer.named("q.execute"))
    ]
    assert len(runs) == 3
    assert all(out["best_s"] <= round(r, 3) for r in runs)
    assert out["spread_s"] == pytest.approx(max(runs) - min(runs), abs=2e-3)
    assert out["jobs"] >= 1 and out["tasks"] >= 1
    assert set(bench.LAYER_KEYS) <= set(out)
