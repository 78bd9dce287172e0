"""Streaming per-source quota admission — the micro-batch twin of
``docs_quota_sample`` (operators/curation.py), round 12 / VERDICT r11
next #7: the exact bottom-k reservoir was batch-only; an ingest loop
wants to admit "the same k docs per source, reproducibly" as shards
LAND, without replaying the corpus.

Why the twin is EXACT: bottom-k hash sampling is associative — the
bottom-k of per-shard bottom-k's equals the bottom-k of the union
(a row outside its shard's bottom k cannot be in the global bottom
k — the same argument that makes the batch query's two-level
tournament exact). So each micro-batch commits its per-source
bottom-k PARTIAL (keeping the md5 draw ``h``) to
``commits_dir/batch_id=N`` with overwrite (the qualitygate/convgate
idempotent-retry contract: a replayed batch replaces its own
partition, admission never double-counts), and merge-on-read
re-ranks the union of partials. The drained stream therefore EQUALS
the one-pass batch rollup, and the SAME DuckDB oracle that gates
docs_quota_sample (the one-level window spelling) hash-gates the
whole loop: micro-batch sampling, the commit layout, and the merge.

100-TB posture: per batch the tournament touches only that shard;
each commit is at most |sources| * QUOTA_K rows; merge-on-read ranks
|batches| * |sources| * QUOTA_K rows — index-sized, never
corpus-sized. No cross-batch state beyond the tiny commit log (the
admission decision is re-derived from partials, so there is nothing
to corrupt on retry).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from . import fixtures
from ..operators import curation


_VIEW_SEQ = itertools.count()


def quota_partial(batch_docs: DataFrame) -> DataFrame:
    """(source, doc_id, h): one shard's per-source bottom-k via the
    gated tournament chain. The batch view name is unique per call
    (review r12 #5): two quota streams sharing a SparkSession must
    not race on one global view name — a partial computed over the
    OTHER stream's batch would be a wrong, permanently committed
    admission decision."""
    spark = batch_docs.sparkSession
    view = f"stream_quota_docs_{next(_VIEW_SEQ)}"
    batch_docs.createOrReplaceTempView(view)
    return spark.sql(curation.quota_bottomk_sql(view))


def read_quota(spark: SparkSession, commits_dir: str) -> DataFrame:
    """Merge the partials: bottom-k of the union, ranked — exactly
    the batch query's output shape (source, doc_id, sample_rank)."""
    spark.read.parquet(commits_dir).createOrReplaceTempView(
        "quota_partials"
    )
    return spark.sql(f"""
SELECT source, doc_id,
       CAST(rn AS INT) AS sample_rank
FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
  FROM quota_partials
) WHERE rn <= {curation.QUOTA_K}
""")


def stage(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared shard staging for this twin (built at most once
    per (session, dataset); bench.py pre-builds it in warmup)."""
    docs = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return fixtures.stage_mod_shards(docs, "qg2", sf_dir)


# ------------------------------------------------------- driver query


def _q_stream_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    commits = fixtures.drain_partials(
        spark, stage(spark, sf_dir), quota_partial,
        scratch_dir("dbp_qg2_work_"),
    )
    return read_quota(spark, commits)


QUERIES = {"docs_stream_quota_sample": _q_stream_quota_sample}
# batch parity: associative bottom-k partials + idempotent commits
# mean the drained stream equals the one-pass batch sample — the SAME
# oracle that gates docs_quota_sample gates the whole loop.
ORACLES = {"docs_stream_quota_sample": curation.QUOTA_SAMPLE_DUCK}
