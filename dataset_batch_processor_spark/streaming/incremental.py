"""Incremental near-duplicate detection over a document stream.

The batch MinHash-LSH pipeline (operators/dedup.py) assumes the whole
corpus is present; a production ingestion pipeline sees documents
arrive continuously and wants each batch checked against EVERYTHING
ingested so far without recomputing history. This module is that
pattern: a ``foreachBatch`` loop that

1. computes MinHash band buckets for the new micro-batch only
   (the per-batch cost is linear in the batch),
2. equi-joins the new buckets against the ACCUMULATED bucket index
   (new-vs-old) and against themselves (new-vs-new) to emit exactly
   the candidate pairs that involve a new document,
3. appends the new buckets to the index and the new pairs to the
   pairs log.

Invariant (test-pinned): after the stream drains, the union of all
emitted pairs equals the UNCAPPED batch
``lsh_pairs_df(docs, max_bucket_size=None)`` over the same corpus —
incremental ingestion discovers exactly the batch answer, in any
batch partitioning of the input. Each pair is emitted exactly once
(when its SECOND member arrives): new-vs-old pairs can't repeat
because one side is strictly older, and new-vs-new uses the a<b
half-join.

Hot-bucket cap caveat (round 9): the batch path's default
``DEFAULT_MAX_BUCKET_SIZE`` drops a whole bucket retroactively once
it exceeds the cap — a stream cannot retract pairs it already
emitted, so exact parity with the CAPPED batch is unattainable above
the cap. The streaming analogue is ``max_bucket_size`` below: an
EMISSION cap that stops producing pairs for any bucket whose
accumulated size (index + batch) exceeds the budget — it bounds the
per-batch candidate blowup (the actual production hazard) while
pairs emitted before saturation stand. Default None preserves the
exact uncapped-batch parity the oracle pins.

Scale: the index grows as corpus x N_BANDS rows of (doc_id, band,
bucket); the join key (band, bucket) is the same uniformly-hashed key
the batch pipeline shuffles on. At deployment the index is a table
bucketed by (band, bucket) (`storage.write_bucketed`) so each
micro-batch joins exchange-free on the index side, and compaction is
a background rewrite.

Exactly-once under retries: foreachBatch is at-least-once, so both
sinks are written as batch_id-keyed partition directories with
per-directory OVERWRITE — a replayed batch rewrites its own
directory instead of appending duplicates. (A bare
``mode("append")`` here would silently break the exactly-once
invariant on the first task retry.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import lsh_bands_df, minhash_signatures_df
from . import fixtures


def run_incremental_over_dir(
    spark: SparkSession, staged_dir: str, work_dir: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Drain a staged directory of (doc_id, text) parquet files — one
    micro-batch per file — and return the drained pairs DataFrame
    (distinct). Pairs land in ``work_dir/pairs`` as (doc_a, doc_b)
    parquet; the bucket index accumulates in ``work_dir/band_index``.
    ``max_bucket_size`` is the streaming EMISSION cap (module
    docstring): buckets whose accumulated size exceeds it stop
    yielding candidates."""
    index_dir = os.path.join(work_dir, "band_index")
    pairs_dir = os.path.join(work_dir, "pairs")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        all_bands = lsh_bands_df(minhash_signatures_df(batch)).persist()
        bands = all_bands
        try:
            pairs_out = os.path.join(pairs_dir, f"batch_id={batch_id}")
            index_out = os.path.join(index_dir, f"batch_id={batch_id}")
            # Probe for the index EXPLICITLY rather than catching read
            # errors: a bare except here would treat a transient IO or
            # corrupt-footer failure as "first batch" and silently drop
            # every new-vs-old pair, breaking the incremental == batch
            # invariant. A real read failure must propagate so the
            # micro-batch retries instead of committing an incomplete
            # pair set. A replayed batch leaves its OWN prior index
            # partition out of the probe and the read (the
            # turndedup.process_turn_batch rule): it is not history,
            # and the index overwrite below deletes its files while
            # the pair job would still be scanning them.
            own = f"batch_id={batch_id}"
            have_index = any(
                e.name.startswith("batch_id=") and e.name != own
                for e in os.scandir(index_dir)
            ) if os.path.isdir(index_dir) else False
            if have_index:
                idx = batch.sparkSession.read.parquet(index_dir).filter(
                    F.col("batch_id") != batch_id
                )
            if max_bucket_size is not None:
                # emission cap: exclude saturated buckets from the
                # CANDIDATE joins only — the index append below keeps
                # every band row, so saturation is judged against the
                # true accumulated size
                acc = all_bands.select("band", "bucket")
                if have_index:
                    acc = acc.unionByName(idx.select("band", "bucket"))
                sizes = acc.groupBy("band", "bucket").agg(
                    F.count(F.lit(1)).alias("_bsz")
                )
                bands = all_bands.join(
                    sizes.filter(F.col("_bsz") <= max_bucket_size),
                    ["band", "bucket"],
                ).drop("_bsz")
            new_new = (
                bands.alias("a")
                .join(
                    bands.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
            )
            if have_index:
                new_old = (
                    bands.alias("n")
                    .join(
                        idx.alias("o"),
                        (F.col("n.band") == F.col("o.band"))
                        & (F.col("n.bucket") == F.col("o.bucket")),
                    )
                    .select(
                        F.least(
                            F.col("n.doc_id"), F.col("o.doc_id")
                        ).alias("doc_a"),
                        F.greatest(
                            F.col("n.doc_id"), F.col("o.doc_id")
                        ).alias("doc_b"),
                    )
                    .filter(F.col("doc_a") != F.col("doc_b"))
                )
                pairs = new_new.unionByName(new_old)
            else:
                pairs = new_new
            # idempotent per-batch commit: a retried batch OVERWRITES
            # its own partition directory rather than appending dups.
            # Round 16 (guide §2.6): the two sinks are independent
            # jobs — materialize the shared bands cache ONCE first
            # (otherwise the concurrent jobs would race to compute the
            # signature chain), then let the index dump back-fill the
            # pair join's tail. The pair job's index scan is pinned to
            # the file listing taken above, so the concurrent append
            # of this batch's index partition cannot leak into it.
            all_bands.count()
            from concurrent.futures import ThreadPoolExecutor

            def _write_pairs() -> None:
                pairs.distinct().write.mode("overwrite").parquet(pairs_out)

            def _write_index() -> None:
                all_bands.write.mode("overwrite").parquet(index_out)

            with ThreadPoolExecutor(max_workers=2) as pool:
                for fut in [pool.submit(_write_pairs),
                            pool.submit(_write_index)]:
                    fut.result()
        finally:
            all_bands.unpersist()

    fixtures.drain(
        spark, staged_dir, process_batch,
        os.path.join(work_dir, "checkpoint"),
    )
    # partition discovery adds the batch_id dir key as a column;
    # project it away so the result schema is exactly (doc_a, doc_b)
    return (
        spark.read.parquet(pairs_dir)
        .select("doc_a", "doc_b")
        .distinct()
    )


# ------------------------------------------------------- driver query
# The drained incremental result EQUALS the batch pipeline's pairs by
# the invariant above, so the batch DuckDB oracle (LSH_PAIRS_DUCK)
# hash-gates the whole streaming loop: micro-batch signature compute,
# index accumulation, new-vs-old/new-vs-new joins, exactly-once log.


def stage(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared shard staging: two micro-batches, dup partners
    split (fixtures.stage_mod_shards; slice order preserved, so the
    new-vs-old/new-vs-new split sees the identical batch sequence)."""
    from .. import catalog as cat

    docs = cat.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return fixtures.stage_mod_shards(docs, "inc_q", sf_dir, n_shards=2)


def _q_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    stage_path = stage(spark, sf_dir)
    work = scratch_dir("dbp_inc_q_work_")
    return run_incremental_over_dir(spark, stage_path, work)


def _oracle():
    from ..operators.dedup import LSH_PAIRS_DUCK

    return LSH_PAIRS_DUCK


QUERIES = {"docs_incremental_lsh_pairs": _q_incremental_pairs}
ORACLES = {"docs_incremental_lsh_pairs": _oracle()}
