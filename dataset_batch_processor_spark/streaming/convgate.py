"""Streaming conversation-validation admission — the micro-batch twin
of docs_chat_validate (operators/chatvalidate.py), completing the
round-11 SFT-ingest story: shards of arriving conversations are
validated AS THEY LAND with the same gated verdict cascade, and the
per-reason admission dashboard accumulates exactly.

Shape (the qualitygate.py contract): each micro-batch runs the SAME
parameterized verdict chain over the batch view and commits its
(decision, reason, n_convs) partial to ``commits_dir/batch_id=N``
with overwrite — a retried batch replaces its own partition instead
of double-counting. Verdicts are stateless per conversation, so the
merged dashboard EQUALS the one-pass batch rollup and the batch
DuckDB oracle (CHAT_VALIDATE_COUNTS_DUCK) hash-gates the whole loop:
micro-batch scoring, the idempotent commit layout, and merge-on-read.

100-TB posture: per batch one turns-chain pass + a reasons-sized
aggregate (the partial is at most |decisions x reasons| rows); the
commit log grows one tiny file per batch; no cross-batch state at
all (unlike turndedup.py, which needs the digest index — validation
is per-doc, so admission needs no memory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from . import fixtures
from ..operators import chatvalidate


def validation_partial(batch_docs: DataFrame) -> DataFrame:
    """(decision, reason, n_convs) for one shard via the gated chain."""
    spark = batch_docs.sparkSession
    batch_docs.createOrReplaceTempView("stream_conv_docs")
    return spark.sql(chatvalidate.validate_counts_sql("stream_conv_docs"))


def read_validation(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the per-batch partials (exact: counts add)."""
    return (
        spark.read.parquet(commits_dir)
        .groupBy("decision", "reason")
        .agg(F.sum("n_convs").cast("long").alias("n_convs"))
    )


def stage(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared shard staging for this twin (built at most once
    per (session, dataset); bench.py pre-builds it in warmup)."""
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return fixtures.stage_mod_shards(docs, "cvg", sf_dir)


# ------------------------------------------------------- driver query


def _q_stream_conv_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    commits = fixtures.drain_partials(
        spark, stage(spark, sf_dir), validation_partial,
        scratch_dir("dbp_cvg_work_"),
    )
    return read_validation(spark, commits)


QUERIES = {"docs_stream_conv_validation": _q_stream_conv_validation}
# batch parity: stateless per-doc verdicts + associative counts mean
# the drained stream equals the one-pass batch rollup — the SAME
# oracle that gates docs_chat_validate_counts gates the whole loop.
ORACLES = {
    "docs_stream_conv_validation": chatvalidate.CHAT_VALIDATE_COUNTS_DUCK
}
