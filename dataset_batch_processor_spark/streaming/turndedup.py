"""Streaming turn-dedup admission — the SFT-ingestion twin of
``docs_turn_dedup`` (operators/chat.py).

Production shape: conversation shards arrive continuously; each
micro-batch derives its turns (the SAME parameterized chain the batch
gate pins — chat.toks_spark/turns_spark over the batch view), and a
turn is ADMITTED only if its content digest has never been admitted
before — first by the accumulated digest index, then first-within-
batch. Admitted digests append to the index; both sinks use the
batch_id-keyed overwrite layout (incremental.py's exactly-once
pattern), so a retried micro-batch rewrites its own directory.

Order-free gate (the driftmon.py requirement): WHICH copy of a
duplicated turn gets admitted depends on arrival order, so the gated
output carries only arrival-order-invariant facts — the admitted
digest SET (one row per digest) with its token count. The DuckDB
oracle recomputes ``SELECT DISTINCT`` over the batch turn chain;
equality proves exactly-once admission end to end (zero double-admits
in any batch partitioning of the input). The order-DEPENDENT fields
(admitted doc_id/turn_id) stay in the commit log for lineage but out
of the gate; tests pin that two different arrival orders admit the
identical digest set.

Bounded state: the index holds one 32-char digest row per DISTINCT
turn — it grows with unique content, never with corpus volume; the
admission join is an equi-join on the digest, the same key the batch
dedup shuffles. At deployment the index is bucketed by digest
(storage.write_bucketed) for exchange-free probes.

LOCAL-FS CONSTRAINT (ADVICE r10): the exactly-once retry exclusion
discovers existing ``batch_id=*`` index partitions with driver-local
``os.scandir`` — correct in this harness and matching the
incremental.py precedent, but on a non-local filesystem (S3/HDFS) the
listing silently returns nothing and every batch re-admits history.
A deployment off local disk must swap ``_index_batch_dirs`` for a
Hadoop-FS listing (``spark._jvm.org.apache.hadoop.fs.FileSystem``)
— the single seam the function isolates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import chat
from . import fixtures


def _batch_turns_sql() -> str:
    return (
        f"WITH {chat.toks_spark('stream_batch_docs')},\n"
        f"{chat.turns_spark('stream_batch_docs')}\n"
        "SELECT doc_id, turn_id, md5(content) AS digest,\n"
        "       length(content) - length(replace(content, ' ', '')) + 1"
        " AS n_tokens\n"
        "FROM turns"
    )


def _index_batch_dirs(index_dir: str) -> list[str]:
    """``batch_id=*`` partition names present in the digest index.
    DRIVER-LOCAL listing (os.scandir) — the one filesystem-coupled
    seam of the admission loop (see module docstring: swap this for a
    Hadoop-FS listing on any non-local filesystem, or the retry
    exclusion silently degrades to 'no index')."""
    if not os.path.isdir(index_dir):
        return []
    return [
        e.name for e in os.scandir(index_dir)
        if e.name.startswith("batch_id=")
    ]


def process_turn_batch(
    batch: DataFrame, batch_id: int, index_dir: str, admitted_dir: str
) -> None:
    """One micro-batch of the admission loop — module-level so the
    at-least-once RETRY path is directly testable (round-10 review #1:
    a replayed batch must not anti-join against its own prior commit;
    tests/test_turn_admission.py replays a committed batch and pins
    byte-identical output)."""
    spark = batch.sparkSession
    batch.createOrReplaceTempView("stream_batch_docs")
    turns = spark.sql(_batch_turns_sql()).persist()
    try:
        # first occurrence WITHIN the batch (digest-keyed window —
        # bounded by the batch)
        w_first = F.row_number().over(
            Window.partitionBy("digest").orderBy("doc_id", "turn_id")
        )
        firsts = turns.withColumn("_occ", w_first).filter(
            F.col("_occ") == 1
        ).drop("_occ")
        # not already admitted by an earlier batch (anti-join on
        # the accumulated digest index; explicit probe — a bare
        # except would silently re-admit history, incremental.py's
        # have-index lesson). CRITICAL retry rule (round-10 review
        # #1): exclude the CURRENT batch's own partition from the
        # index read — foreachBatch is at-least-once, and a
        # retried batch that read its own prior commit would
        # anti-join away its own digests and overwrite both sinks
        # with an empty set, permanently dropping those turns.
        have_index = any(
            name != f"batch_id={batch_id}"
            for name in _index_batch_dirs(index_dir)
        )
        if have_index:
            idx = (
                spark.read.parquet(index_dir)
                .filter(F.col("batch_id") != batch_id)
                .select("digest")
            )
            firsts = firsts.join(idx, "digest", "left_anti")
        # persist + materialize once: both sinks reuse the SAME
        # computed admission set (review #3 — the recompute paid
        # the growing index scan twice per batch), and the index
        # read completes before its own partition is overwritten
        firsts = firsts.persist()
        firsts.count()
        # the two sinks are independent jobs over the SAME persisted
        # admission set — submit them concurrently (guide §2.6) so the
        # second write's tasks back-fill the first's tail instead of
        # waiting for it; the count above already materialized the
        # cache (and completed the index read), so neither job
        # recomputes the chain
        from concurrent.futures import ThreadPoolExecutor

        def _write_admitted() -> None:
            firsts.write.mode("overwrite").parquet(
                os.path.join(admitted_dir, f"batch_id={batch_id}")
            )

        def _write_index() -> None:
            firsts.select("digest").write.mode("overwrite").parquet(
                os.path.join(index_dir, f"batch_id={batch_id}")
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            for fut in [pool.submit(_write_admitted),
                        pool.submit(_write_index)]:
                fut.result()
        firsts.unpersist()
    finally:
        turns.unpersist()


def run_turn_admission_over_dir(
    spark: SparkSession, staged_dir: str, work_dir: str
) -> DataFrame:
    """Drain the admission loop over staged (doc_id, text) parquet and
    return the ORDER-FREE gated view: one row per admitted digest."""
    index_dir = os.path.join(work_dir, "digest_index")
    admitted_dir = os.path.join(work_dir, "admitted")
    fixtures.drain(
        spark, staged_dir,
        lambda batch, batch_id: process_turn_batch(
            batch, batch_id, index_dir, admitted_dir
        ),
        os.path.join(work_dir, "checkpoint"),
    )
    return (
        spark.read.parquet(admitted_dir)
        .select("digest", F.col("n_tokens").cast("int").alias("n_tokens"))
    )


def admitted_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """Full commit log incl. the order-dependent admitted copy ids —
    lineage, NOT gated."""
    return spark.read.parquet(os.path.join(work_dir, "admitted"))


# ------------------------------------------------------- driver query


def stage(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared shard staging: two micro-batches, duplicates
    split (fixtures.stage_mod_shards; slice order preserved, so the
    first-wins admission drains the identical batch sequence)."""
    from .. import catalog as cat

    docs = cat.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return fixtures.stage_mod_shards(docs, "turnadm", sf_dir)


def _q_stream_turn_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import scratch_dir

    stage_path = stage(spark, sf_dir)
    work = scratch_dir("dbp_turnadm_work_")
    return run_turn_admission_over_dir(spark, stage_path, work)


TURN_ADMISSION_DUCK = f"""WITH {chat.toks_duck()},
{chat.turns_duck()}
SELECT DISTINCT md5(content) AS digest,
       CAST(length(content) - length(replace(content, ' ', '')) + 1
            AS INT) AS n_tokens
FROM turns
"""

QUERIES = {"docs_stream_turn_admission": _q_stream_turn_admission}
ORACLES = {"docs_stream_turn_admission": TURN_ADMISSION_DUCK}
