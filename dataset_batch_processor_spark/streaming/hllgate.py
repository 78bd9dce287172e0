"""Streaming HLL distinct-count monitor — the micro-batch twin of
docs_hll_distinct_tokens (operators/hll.py), completing the sketch
family's streaming story (cms.py's CMS grid and histsketch.py's
fixed-bin histogram both already accumulate per batch; HLL registers
are the third mergeable-sketch unit).

Register maxima merge associatively (max of per-shard maxima == max
of the union — the defining HLL property), so each arriving shard
commits its (source, grain, reg, m_j) partial and merge-on-read
groupBy.max reproduces the one-pass register table EXACTLY; the
estimator (integer inverses + the ppm linear-counting relation) then
runs on the merged registers, so the drained stream equals the
one-pass batch card and the SAME DuckDB oracle gates the whole loop.

100-TB posture: per batch one (source, grain, reg) combine bounded by
|sources| x 2 x 256 rows; batch_id-keyed overwrite commits (idempotent
retry); no cross-batch state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..operators import hll
from . import fixtures


def read_hll_card(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge register partials (max — exact) and run the batch
    estimator + exact-count comparison over the merged registers.
    The exact side re-reads the accumulated corpus (the
    quality-vs-cost comparison column is an AUDIT read, not sketch
    state)."""
    spark.read.parquet(commits_dir).groupBy("source", "grain", "reg").agg(
        F.max("m_j").alias("m_j")
    ).createOrReplaceTempView("hll_merged_regs")
    # built from the SAME parameterized template as the batch query
    # (review r13 #2: no textual splicing of the batch SQL)
    return spark.sql(
        hll._hll_sql("spark", regs_table="hll_merged_regs")
    )


# ------------------------------------------------------- driver query


def stage(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared shard staging for this twin."""
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    return fixtures.stage_mod_shards(docs, "hlg", sf_dir)


def _q_stream_hll_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    commits = fixtures.drain_partials(
        spark, stage(spark, sf_dir), hll.hll_partial,
        scratch_dir("dbp_hlg_work_"),
    )
    # the audit's exact side reads the fully-drained corpus
    catalog.load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return read_hll_card(spark, commits)


QUERIES = {"docs_stream_hll_card": _q_stream_hll_card}
# batch parity: register max-merge is exact, the estimator is a pure
# function of the merged registers — the SAME oracle gates the loop.
ORACLES = {"docs_stream_hll_card": hll.HLL_DUCK}
