"""Streaming pass@k scoreboard — the micro-batch twin of
docs_passk_estimate (operators/rlvr.py), extending the streaming-twin
family (convgate/quotagate/qualitygate) to verifiable-reward data.

Rollout grading is stateless per TASK (all of a document's rollouts
and its verifier answer derive from that document alone), so each
arriving shard commits a per-batch PARTIAL: the histogram of
``n_correct`` values — at most N_ROLLOUTS+1 rows per batch. The
histogram is associative, and the Chen et al. per-task estimator
depends ONLY on ``n_correct``, so merge-on-read recomputes pass@k
EXACTLY:

    pass@k = sum_c cnt_c * (10^6 - C(n-c,k)*10^6 // C(n,k)) // n_tasks

equals the one-pass batch rollup term for term — the SAME DuckDB
oracle that gates docs_passk_estimate gates the whole loop
(micro-batch grading, idempotent batch_id-keyed commits,
merge-on-read).

100-TB posture (the convgate contract): per batch one bounded x8
rollout fan-out + a (doc, token) combine; the partial is <= 9 rows;
commits are batch_id-keyed overwrites (a retried batch replaces its
own partition); no cross-batch state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from . import fixtures
from ..operators import rlvr

_PARTIAL_TAIL = """
SELECT n_correct, n_rolls, CAST(count(*) AS BIGINT) AS n_tasks
FROM task GROUP BY n_correct, n_rolls
"""


def grade_partial(batch_docs: DataFrame) -> DataFrame:
    """(n_correct, n_rolls, n_tasks) histogram for one shard via the
    gated grading chain — n_rolls rides along so read_passk's
    binomial term uses the TASK's own rollout count (ADVICE r12)."""
    spark = batch_docs.sparkSession
    batch_docs.createOrReplaceTempView("stream_rlvr_docs")
    return spark.sql(
        rlvr._sql("spark", _PARTIAL_TAIL, table="stream_rlvr_docs")
    )


def read_passk(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the partials and recompute pass@k exactly from the
    (n_correct, n_rolls)-histogram + the constant binomial relation.

    The partial carries ``n_rolls`` per row (ADVICE r12): the
    estimator's C(n-c,k)/C(n,k) term uses the TASK's own rollout
    count, as the batch oracle does, instead of assuming every graded
    task saw exactly N_ROLLOUTS rollouts — so a future chain with
    variable per-task rollouts keeps streaming/batch parity."""
    spark.read.parquet(commits_dir).groupBy("n_correct", "n_rolls").agg(
        F.sum("n_tasks").cast("long").alias("n_tasks")
    ).createOrReplaceTempView("rlvr_chist")
    return spark.sql(f"""
WITH {rlvr._comb_cte("spark")},
sel AS (
  SELECT cb.k,
         h.n_tasks,
         (1000000 - (cb.c * 1000000 DIV cn.c)) AS task_ppm
  FROM rlvr_chist h
       JOIN comb cb ON cb.m = h.n_rolls - h.n_correct
       JOIN comb cn ON cn.m = h.n_rolls AND cn.k = cb.k
)
SELECT CAST(k AS INT) AS k,
       CAST(sum(n_tasks) AS BIGINT) AS n_tasks,
       CAST(sum(task_ppm * n_tasks) DIV sum(n_tasks) AS BIGINT)
           AS pass_at_k_ppm
FROM sel GROUP BY k
""")


def stage(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared shard staging for this twin (built at most once
    per (session, dataset); bench.py pre-builds it in warmup)."""
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return fixtures.stage_mod_shards(docs, "rvg", sf_dir)


# ------------------------------------------------------- driver query


def _q_stream_passk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    commits = fixtures.drain_partials(
        spark, stage(spark, sf_dir), grade_partial,
        scratch_dir("dbp_rvg_work_"),
    )
    return read_passk(spark, commits)


QUERIES = {"docs_stream_passk": _q_stream_passk}
# batch parity: the estimator is a function of the associative
# c-histogram alone, so the drained stream equals the one-pass batch
# rollup — the SAME oracle that gates docs_passk_estimate.
ORACLES = {"docs_stream_passk": rlvr.PASSK_DUCK}
