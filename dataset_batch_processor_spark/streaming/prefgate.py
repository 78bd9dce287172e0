"""Streaming DPO margin-distribution monitor — the micro-batch twin
of docs_pref_margin_hist (operators/preference.py), the audit an
RLHF ingest loop keeps live as preference pairs arrive: mass
accumulating in margin bucket 0 (coin-flips) means the incoming pair
stream has stopped carrying signal and collection should pause.

Pair scoring is stateless per PROMPT (both candidates derive from the
document alone), so each arriving shard commits a per-batch PARTIAL:
the (margin_bucket, n_pairs, min/max margin) histogram — at most 10
rows per batch. Counts add and min/max merge associatively, so
merge-on-read reproduces the one-pass batch rollup EXACTLY and the
SAME DuckDB oracle that gates docs_pref_margin_hist gates the whole
loop (micro-batch scoring, idempotent batch_id-keyed commits,
merge-on-read).

100-TB posture (the convgate/rlvrgate contract): per batch one
bounded x2 candidate fan-out + a (doc, k) combine; the partial is
<= 10 rows; commits are batch_id-keyed overwrites (a retried batch
replaces its own partition); no cross-batch state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from . import fixtures
from ..operators import preference


def margin_partial(batch_docs: DataFrame) -> DataFrame:
    """(margin_bucket, n_pairs, min_margin, max_margin) for one shard
    via the gated pairs chain."""
    spark = batch_docs.sparkSession
    batch_docs.createOrReplaceTempView("stream_pref_docs")
    # built from the SAME parameterized template as the batch query
    # (rlvr._chain convention) — no textual rewriting of the batch
    # SQL, so a chain-internal rename cannot silently retarget it
    sql = preference._sql(
        "spark", preference._MARGIN_TAIL, 2, table="stream_pref_docs"
    )
    return spark.sql(sql)


def read_margins(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the partials (counts add, min/max merge — exact)."""
    return (
        spark.read.parquet(commits_dir)
        .groupBy("margin_bucket")
        .agg(
            F.sum("n_pairs").cast("long").alias("n_pairs"),
            F.min("min_margin").cast("long").alias("min_margin"),
            F.max("max_margin").cast("long").alias("max_margin"),
        )
    )


def stage(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared shard staging for this twin (built at most once
    per (session, dataset); bench.py pre-builds it in warmup)."""
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return fixtures.stage_mod_shards(docs, "pfg", sf_dir)


# ------------------------------------------------------- driver query


def _q_stream_margin_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    commits = fixtures.drain_partials(
        spark, stage(spark, sf_dir), margin_partial,
        scratch_dir("dbp_pfg_work_"),
    )
    return read_margins(spark, commits)


QUERIES = {"docs_stream_margin_hist": _q_stream_margin_hist}
# batch parity: stateless per-prompt scoring + associative histogram
# merges mean the drained stream equals the one-pass batch rollup —
# the SAME oracle that gates docs_pref_margin_hist.
ORACLES = {"docs_stream_margin_hist": preference.MARGIN_HIST_DUCK}
