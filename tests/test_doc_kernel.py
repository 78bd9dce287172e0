"""The one per-doc kernel (multimodal/qcommon.doc_kernel).

Every synthetic multimodal fixture query is a row function of doc_id
run through ``doc_kernel``. These tests pin its contract on a small
``documents`` table — output rows, fan width and filter placement —
and a tripwire keeps the copied Arrow batch loop, the direct fan-out
calls and the env-var reads from growing back.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from dataset_batch_processor_spark.multimodal import qcommon
from dataset_batch_processor_spark.plans import explain

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "dataset_batch_processor_spark"
)
N_DOCS = 3 * qcommon.LIGHT_ROWS_PER_TASK  # light fan width 3 when par >= 3


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("doc_kernel")
    spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


def _tree(plan: str) -> list[str]:
    """The operator tree at the head of explain("formatted")."""
    return plan.split("\n\n", 1)[0].splitlines()


@pytest.mark.parametrize("light", [False, True])
def test_doc_kernel_rows_width_and_filter(spark, docs_dir, light):
    def row(d: int) -> tuple:
        return d, d * d % 97, f"doc{d}"

    df = qcommon.doc_kernel(spark, docs_dir, row,
                            "doc_id long, sq int, name string",
                            where=F.col("doc_id") % 3 == 1, light=light)
    got = sorted(tuple(r) for r in df.collect())
    assert got == [row(d) for d in range(N_DOCS) if d % 3 == 1]
    assert df.columns == ["doc_id", "sq", "name"]

    par = spark.sparkContext.defaultParallelism
    # the light cap is sized from the UNFILTERED row count
    n = max(1, min(par, N_DOCS // qcommon.LIGHT_ROWS_PER_TASK)) if light else par
    plan = explain.formatted_plan(df)
    if n > 1:
        assert f"RoundRobinPartitioning({n})" in plan
    else:
        assert "SinglePartition, REPARTITION_BY_NUM" in plan
    tree = _tree(plan)
    ops = [ln.split("- ", 1)[-1].split(" (")[0] for ln in tree]
    assert ops.count("MapInPandas") == 1
    assert ops.index("MapInPandas") < ops.index("Exchange") < ops.index("Filter")


def test_doc_kernel_many_rows_per_doc(spark, docs_dir):
    """``many`` flattens a list of rows per doc, including none."""

    def rows(d: int) -> list[tuple]:
        return [(d, k) for k in range(d % 3)]

    df = qcommon.doc_kernel(spark, docs_dir, rows, "doc_id long, k int",
                            where=F.col("doc_id") < 10, many=True)
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(r for d in range(10) for r in rows(d))


def test_mm_fixture_kernels_share_one_loop():
    """The per-doc Arrow loop lives in qcommon.doc_kernel (alignment's
    caption kernel has no fan and keeps its own); only the audio
    fingerprint query, whose loop reads a SQL-computed seed, calls
    _fanout directly; only session.py reads the environment."""
    src = {
        p.relative_to(PKG).as_posix(): p.read_text()
        for p in PKG.rglob("*.py")
    }

    def where(needle: str, prefix: str = "") -> set[str]:
        return {n for n, s in src.items() if n.startswith(prefix) and needle in s}

    assert where('for doc_id in pdf["doc_id"]', "multimodal/") == {
        "multimodal/qcommon.py",
        "multimodal/alignment.py",
    }
    assert where("_fanout(") == {"multimodal/qcommon.py", "multimodal/qaudio.py"}
    assert src["multimodal/qaudio.py"].count("_fanout(") == 1
    env = re.compile(r"\benviron\b|\bgetenv\b")
    assert {n for n, s in src.items() if env.search(s)} == {"session.py"}
