"""The one drain skeleton for the availableNow stream twins, and the
session-shared shard staging they drain.

Drain contract (every foreachBatch twin runs through :func:`drain`):

* **Staged directory.** The input is a directory of parquet files
  built once per (session, kind, dataset) through
  ``matcache.staged_once`` (:func:`stage_mod_shards`,
  :func:`stage_expr_shards`). Its schema is read from the files
  themselves.
* **One file per micro-batch.** ``maxFilesPerTrigger=1`` under the
  ``availableNow`` trigger drains the staged files as a deterministic
  micro-batch sequence, then stops.
* **Idempotent commits.** foreachBatch is at-least-once: a batch that
  committed its output but not its checkpoint entry is replayed with
  the same ``batch_id``. :func:`drain_partials` therefore writes each
  batch's partial to ``commits/batch_id=N`` with OVERWRITE, so a
  replay replaces its own partition instead of double-counting. The
  stateful drains (incremental LSH, turn admission) keep the same
  layout for their index and output sinks and leave their own
  ``batch_id=N`` out of every index read.
* **Merge on read.** Each twin merges the committed partials with one
  read of the commits directory (counts add, sketches merge, pair and
  digest sets union), so the drained answer equals the one-pass batch
  query and that query's DuckDB oracle gates the whole loop.
* **Drain-sized shuffles.** :func:`drain_sized` scopes
  ``spark.sql.shuffle.partitions`` to the constant
  :data:`DRAIN_PARTITIONS` around every drain, foreachBatch and
  memory-sink alike.

Staging layout: :func:`stage_mod_shards` and :func:`stage_expr_shards`
write one ``coalesce(1)`` append per shard slice, in slice order, so
the same files arrive in the same order on every run (the first-wins
loops gate only arrival-order-invariant facts, but a fixed order
keeps their lineage logs reproducible). Two shards prove what
more would (multi-batch accumulation, idempotent commits,
merge-on-read) at the cost of two micro-batch cycles. The per-run
checkpoint and commit directories stay fresh ``scratch_dir`` state.
"""

from __future__ import annotations

import contextlib
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..matcache import staged_once

# A micro-batch is input-bounded (one staged file), so its shuffle
# width tracks the batch, not the session's core count: at a session
# default of 32, every per-batch aggregation and commit pays 32 tasks
# and 32 output files, and every stateful operator (agg, dedup,
# session window, stream-stream join) allocates 32 state-store
# instances that AQE cannot coalesce. Measured at sf0.1 on 32 cores,
# 4 cut each foreachBatch drain 30-50% (turn admission 4.8 -> 2.4 s)
# and the stateful twins about 2x (join 5.8 -> 3.8 s); 2-3 was within
# noise of 4. The gated outputs are partitioning-invariant, which
# every twin's oracle re-proves.
DRAIN_PARTITIONS = "4"


@contextlib.contextmanager
def drain_sized(spark: SparkSession):
    """Scope ``shuffle.partitions`` to :data:`DRAIN_PARTITIONS` around
    a streaming drain, restoring the session default on ANY exit so a
    mid-drain error can't leak the setting into the long-lived
    session."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", DRAIN_PARTITIONS)
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def drain(
    spark: SparkSession,
    source_dir: str,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Drain ``source_dir`` one file per micro-batch through
    ``process_batch(batch, batch_id)`` and return once every staged
    file is processed. Re-draining the same ``checkpoint_dir`` picks
    up only files that landed since, and replays a batch whose commit
    entry is missing."""
    schema = spark.read.parquet(source_dir).schema
    with drain_sized(spark):
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
            .writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def drain_partials(
    spark: SparkSession,
    source_dir: str,
    partial: Callable[[DataFrame], DataFrame],
    work_dir: str,
) -> str:
    """:func:`drain` for the stateless twins: commit ``partial(batch)``
    to ``work_dir/commits/batch_id=N`` with overwrite and return the
    commits directory for the twin's merge-on-read."""
    commits_dir = os.path.join(work_dir, "commits")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        out = os.path.join(commits_dir, f"batch_id={batch_id}")
        partial(batch).write.mode("overwrite").parquet(out)

    drain(spark, source_dir, process_batch,
          os.path.join(work_dir, "checkpoint"))
    return commits_dir


def stage_mod_shards(
    docs: DataFrame, kind: str, key: str, n_shards: int = 2
) -> str:
    """Stage ``docs`` as ``n_shards`` single-file parquet appends
    split by ``doc_id % n_shards`` (slice order preserved), once per
    (session, kind, key); returns the staging directory."""

    def write(path: str) -> None:
        for part in range(n_shards):
            docs.filter(F.col("doc_id") % n_shards == part).coalesce(
                1
            ).write.mode("append").parquet(path)

    # layout parameters are cache identity (r13 ADVICE): a second
    # caller reusing `kind` with another shard count or schema gets
    # its own staging dir instead of silently sharing this one
    layout = f"mod{n_shards}|{','.join(docs.columns)}"
    return staged_once(docs.sparkSession, kind, key, write, layout=layout)


def stage_expr_shards(
    df: DataFrame, kind: str, key: str, shard_expr: str, n_shards: int = 2
) -> str:
    """:func:`stage_mod_shards` for tables without a ``doc_id`` —
    shards on an arbitrary integer SQL expression (e.g.
    ``user_id % 2``... the expression must already be reduced modulo
    ``n_shards``). Round 15: the cms / histsketch / funnel
    heavy-hitter stream twins rebuilt their shard staging on EVERY
    run; their splits ride this helper so staging is session-shared
    like every other twin's."""

    def write(path: str) -> None:
        for part in range(n_shards):
            df.filter(F.expr(shard_expr) == part).coalesce(1).write.mode(
                "append"
            ).parquet(path)

    layout = f"expr({shard_expr})x{n_shards}|{','.join(df.columns)}"
    return staged_once(df.sparkSession, kind, key, write, layout=layout)
