"""The one stream-twin drain (streaming/fixtures.py).

foreachBatch is at-least-once: a micro-batch that wrote its output
but died before its checkpoint commit entry is replayed under the
same batch_id on the next start. These tests make Spark do exactly
that — delete the newest ``checkpoint/commits/N`` entry and drain
again — and pin that the drained answer does not move. A tripwire
keeps every foreachBatch twin on the shared skeleton.
"""

from __future__ import annotations

import os
import pathlib
import re

from pyspark.sql import functions as F

from dataset_batch_processor_spark.streaming import (
    driftmon,
    fixtures,
    incremental,
    turndedup,
)

SF = "/root/testdata/sf0.001"
PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "dataset_batch_processor_spark"
)


def _drop_last_commit(work: str) -> int:
    """Delete the newest checkpoint commit entry (and its checksum
    file) so the next drain replays that batch; returns its id."""
    commits = os.path.join(work, "checkpoint", "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        path = os.path.join(commits, name)
        if os.path.exists(path):
            os.remove(path)
    return last


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_drain_partials_replay_keeps_merged_output(spark, tmp_path):
    stage = driftmon.stage(spark, SF)
    work = str(tmp_path / "work")
    commits = fixtures.drain_partials(
        spark, stage, driftmon.drift_partial, work
    )
    first = _rows(driftmon.read_drift(spark, commits))
    batches = sorted(os.listdir(commits))

    last = _drop_last_commit(work)
    replayed = os.path.join(commits, f"batch_id={last}")
    files_before = set(os.listdir(replayed))
    fixtures.drain_partials(spark, stage, driftmon.drift_partial, work)

    # the batch really ran again (overwrite writes new part files) ...
    assert set(os.listdir(replayed)) != files_before
    # ... under its own batch_id, replacing its partial in place
    assert sorted(os.listdir(commits)) == batches
    assert _rows(driftmon.read_drift(spark, commits)) == first


def test_turn_admission_replay_keeps_admitted_set(spark, tmp_path):
    stage = turndedup.stage(spark, SF)
    work = str(tmp_path / "work")
    first = _rows(turndedup.run_turn_admission_over_dir(spark, stage, work))
    log = _rows(turndedup.admitted_log(spark, work))
    assert first

    _drop_last_commit(work)
    again = _rows(turndedup.run_turn_admission_over_dir(spark, stage, work))
    assert again == first
    assert _rows(turndedup.admitted_log(spark, work)) == log


def test_incremental_replay_leaves_own_index_partition_out(spark, tmp_path):
    """A replayed LSH batch must not read its own prior index
    partition: that read double-counts its bucket sizes under the
    emission cap, and the concurrent index overwrite deletes the files
    the pair job is scanning (FAILED_READ_FILE.FILE_NOT_EXIST)."""
    clones = [(i, "the same boilerplate line repeated " * 3)
              for i in range(4)]
    docs = spark.createDataFrame(clones, "doc_id long, text string")
    stage = str(tmp_path / "stage")
    for part in range(2):
        docs.filter(F.col("doc_id") % 2 == part).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    work = str(tmp_path / "work")

    def drain():
        return _rows(incremental.run_incremental_over_dir(
            spark, stage, work, max_bucket_size=4
        ))

    first = drain()
    assert len(first) == 6  # C(4,2): the cap is never exceeded
    assert _drop_last_commit(work) == 1
    assert drain() == first


def test_stream_twins_share_one_drain():
    """foreachBatch lives only in fixtures.drain; availableNow only in
    the shared drains and the public parquet sink; no stream sizing
    env knob."""
    src = {
        p.relative_to(PKG).as_posix(): p.read_text()
        for p in PKG.rglob("*.py")
    }

    def where(needle: str) -> dict[str, int]:
        return {n: s.count(needle) for n, s in src.items() if needle in s}

    assert where(".foreachBatch(") == {"streaming/fixtures.py": 1}
    assert where(".trigger(availableNow=True)") == {
        "streaming/fixtures.py": 1,
        "streaming/batchcheck.py": 1,
        "streaming/watch.py": 1,
    }
    assert where("SPARK_GRAFT_STREAM_") == {}
    assert not [
        n for n, s in src.items() if re.search(r"^def accumulate_", s, re.M)
    ]
