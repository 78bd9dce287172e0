"""Streaming canary-exposure monitor — the micro-batch twin of
docs_canary_leak_card (operators/canary.py), extending the
streaming-twin family to the GOVERNANCE surface: as retraining shards
land, the memorization probe runs live instead of waiting for the
corpus-level batch audit.

Exposure is stateless per DOC (the plant, the rollout windows, and
the leak test all derive from that document alone), and docs are
unique across arriving shards, so each micro-batch commits its
per-doc exposure PARTIAL — (doc_id, n_leak) for the batch's planted
docs — and merge-on-read recomputes the corpus leak card EXACTLY:
counts and sums over a disjoint union of per-doc rows equal the
one-pass batch rollup term for term. The SAME DuckDB oracle that
gates docs_canary_leak_card gates the whole loop.

100-TB posture (the convgate contract): per batch one bounded x8
rollout fan-out over the ~1/CANARY_MOD planted slice; the partial is
planted-docs-per-shard rows; commits are batch_id-keyed overwrites
(a retried batch replaces its own partition); no cross-batch state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..operators import canary
from . import fixtures

_PARTIAL_TAIL = """
SELECT doc_id, CAST(sum(leaked) AS BIGINT) AS n_leak
FROM leaks WHERE is_planted GROUP BY doc_id
"""


def exposure_partial(batch_docs: DataFrame) -> DataFrame:
    """(doc_id, n_leak) for one shard's planted docs via the gated
    plant->rollout->leak chain."""
    spark = batch_docs.sparkSession
    batch_docs.createOrReplaceTempView("stream_canary_docs")
    return spark.sql(
        canary._sql("spark", _PARTIAL_TAIL, table="stream_canary_docs")
    )


def read_leak_card(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the per-doc partials into the corpus leak card (docs are
    disjoint across batches; a retried batch replaced its own
    partition, so sum-of-max per doc is unnecessary — plain sums are
    exact)."""
    per_doc = spark.read.parquet(commits_dir)
    return per_doc.agg(
        F.count("*").cast("long").alias("n_planted"),
        F.sum((F.col("n_leak") > 0).cast("int"))
        .cast("long")
        .alias("n_docs_leaked"),
        F.sum("n_leak").cast("long").alias("n_leak_rollouts"),
        F.expr(
            f"CAST(sum(n_leak) * 1000000"
            f" DIV (count(*) * {canary.N_ROLLOUTS}) AS BIGINT)"
        ).alias("exposure_ppm"),
    )


# ------------------------------------------------------- driver query


def stage(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared shard staging for this twin."""
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return fixtures.stage_mod_shards(docs, "cng", sf_dir)


def _q_stream_canary_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    commits = fixtures.drain_partials(
        spark, stage(spark, sf_dir), exposure_partial,
        scratch_dir("dbp_cng_work_"),
    )
    return read_leak_card(spark, commits)


QUERIES = {"docs_stream_canary_card": _q_stream_canary_card}
# batch parity: per-doc exposure is stateless and docs are disjoint
# across shards, so the drained stream equals the one-pass batch card
# — the SAME oracle that gates docs_canary_leak_card.
ORACLES = {"docs_stream_canary_card": canary._sql("duck", canary._CARD_TAIL)}
