"""The txnlog Python DataSource V2 source (round-10 verdict #2):
engine-managed offsets/checkpoints around the tailer's batch semantics,
and the batch reader's replay, which is ``VersionedTable``'s own."""

from __future__ import annotations

import os
import tempfile
import time

import pytest

from kaggle_data_pipeline_with_aws_spark.operators.txnlog import (
    VersionedTable,
)
from kaggle_data_pipeline_with_aws_spark.streaming import dsv2_source


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v double")


def _drain(q, got, want, timeout_s=90.0):
    deadline = time.time() + timeout_s
    while time.time() < deadline and len(got) < want:
        time.sleep(0.2)
    q.stop()
    assert len(got) >= want, f"drained {len(got)}/{want} batches"


def _stream(spark, root, ck, collect, **opts):
    dsv2_source.register(spark)
    reader = spark.readStream.format("txnlog").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return (
        reader.load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )


def test_live_tail_one_batch_per_version(spark):
    """Commits interleaved with stream progress arrive one micro-batch
    per committed version (the first batch covers whatever existed at
    start — here exactly v0), rows exactly the version's added files."""
    root = tempfile.mkdtemp(prefix="dsv2-live-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, 10.0), (2, 20.0)]), "overwrite")
    got: list[list] = []

    def sink(df, _bid):
        got.append(sorted((r.k, r.v) for r in df.collect()))

    q = _stream(spark, root, tempfile.mkdtemp(prefix="ck-"), sink)
    try:
        _drain_n = lambda n: _drain_wait(got, n)  # noqa: E731

        def _drain_wait(acc, n, timeout_s=60.0):
            deadline = time.time() + timeout_s
            while time.time() < deadline and len(acc) < n:
                time.sleep(0.2)
            assert len(acc) >= n

        _drain_n(1)
        vt.commit(_df(spark, [(3, 30.0)]), "append")
        _drain_n(2)
        vt.commit(_df(spark, [(4, 40.0)]), "append")
        _drain_n(3)
    finally:
        q.stop()
    assert got[0] == [(1, 10.0), (2, 20.0)]
    assert got[1] == [(3, 30.0)]
    assert got[2] == [(4, 40.0)]


def test_rate_limit_versions_per_batch(spark):
    """After the first (base-unknown, wide-but-safe) batch, every
    trigger advances at most versionsPerBatch versions — the T6 /
    maxFilesPerTrigger analog."""
    root = tempfile.mkdtemp(prefix="dsv2-rate-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(0, 0.0)]), "append")  # v0 — the first batch
    batches: list[list[int]] = []

    def sink(df, _bid):
        batches.append(sorted(r.k for r in df.collect()))

    q = _stream(
        spark, root, tempfile.mkdtemp(prefix="ck-"), sink,
        versionsPerBatch="2",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(batches) < 1:
            time.sleep(0.2)
        for k in range(1, 5):  # v1..v4 land while the stream runs
            vt.commit(_df(spark, [(k, float(k))]), "append")
        while time.time() < deadline and sum(map(len, batches)) < 5:
            time.sleep(0.2)
    finally:
        q.stop()
    assert sorted(x for b in batches for x in b) == [0, 1, 2, 3, 4]
    # no post-first batch spans more than 2 versions (1 row/version)
    assert all(len(b) <= 2 for b in batches[1:])


def test_checkpoint_recovery_no_dup_no_loss(spark):
    """Kill the query mid-stream, commit more, restart on the SAME
    checkpoint: the union of both runs' batches is exactly every
    version once."""
    root = tempfile.mkdtemp(prefix="dsv2-ck-")
    ck = tempfile.mkdtemp(prefix="ck-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, 1.0)]), "append")
    vt.commit(_df(spark, [(2, 2.0)]), "append")
    run1: list[list[int]] = []

    def sink1(df, _bid):
        run1.append(sorted(r.k for r in df.collect()))

    q1 = _stream(spark, root, ck, sink1)
    # Wait for the ENGINE to commit batch 0 (checkpoint commits/0)
    # before killing the query: a stop between the foreachBatch sink
    # and the commit-log write legitimately replays the batch on
    # restart (Spark's at-least-once contract for uncommitted
    # batches), which is not what this test asserts about.
    deadline = time.time() + 90
    commit0 = os.path.join(ck, "commits", "0")
    while time.time() < deadline and not os.path.exists(commit0):
        time.sleep(0.2)
    q1.stop()
    assert os.path.exists(commit0), "batch 0 never committed"
    assert sorted(x for b in run1 for x in b) == [1, 2]

    vt.commit(_df(spark, [(3, 3.0)]), "append")
    vt.commit(_df(spark, [(4, 4.0)]), "append")
    run2: list[list[int]] = []

    def sink2(df, _bid):
        run2.append(sorted(r.k for r in df.collect()))

    q2 = _stream(spark, root, ck, sink2)
    deadline = time.time() + 90
    while time.time() < deadline and sum(map(len, run2)) < 2:
        time.sleep(0.2)
    q2.stop()
    # resumed past the consumed versions: 3 and 4 exactly once, no 1/2
    assert sorted(x for b in run2 for x in b) == [3, 4]


def test_rewrite_modes_skip_and_fail(spark):
    root = tempfile.mkdtemp(prefix="dsv2-rw-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, 1.0)]), "append")          # v0
    vt.commit(_df(spark, [(9, 9.0)]), "overwrite")       # v1 rewrite
    vt.commit(_df(spark, [(2, 2.0)]), "append")          # v2

    got: list[list[int]] = []

    def sink(df, _bid):
        ks = sorted(r.k for r in df.collect())
        if ks:
            got.append(ks)

    q = _stream(
        spark, root, tempfile.mkdtemp(prefix="ck-"), sink,
        onRewrite="skip",
    )
    _drain(q, got, want=1)
    # the rewrite's adds were dropped; appends flowed
    assert sorted(x for b in got for x in b) == [1, 2]

    # default mode refuses the rewrite: the query dies with the error
    q2 = _stream(spark, root, tempfile.mkdtemp(prefix="ck-"),
                 lambda df, b: df.count())
    with pytest.raises(Exception, match="removed files"):
        q2.awaitTermination(60)
        raise AssertionError("query survived a rewrite in fail mode")


def test_schema_comes_from_log_head(spark):
    root = tempfile.mkdtemp(prefix="dsv2-schema-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, 1.0)]), "append")
    dsv2_source.register(spark)
    df = spark.readStream.format("txnlog").option("path", root).load()
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    assert df.isStreaming


# -- batch reader (round 11): spark.read.format("txnlog") ---------------


def _batch_read(spark, root, version=None):
    dsv2_source.register(spark)
    r = spark.read.format("txnlog").option("path", root)
    if version is not None:
        r = r.option("version", version)
    return r.load()


def test_batch_read_head_and_time_travel(spark):
    root = tempfile.mkdtemp(prefix="dsv2-batch-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, 10.0), (2, 20.0)]), "overwrite")
    vt.commit(_df(spark, [(3, 30.0)]), "append")
    vt.commit(_df(spark, [(9, 90.0)]), "overwrite")
    assert sorted(r.k for r in _batch_read(spark, root).collect()) == [9]
    assert sorted(
        r.k for r in _batch_read(spark, root, 1).collect()
    ) == [1, 2, 3]
    assert sorted(
        r.k for r in _batch_read(spark, root, 0).collect()
    ) == [1, 2]
    # a version past the head clamps to it (the snapshot() contract)
    assert sorted(r.k for r in _batch_read(spark, root, 99).collect()) == [9]


def test_batch_read_resolves_through_checkpoint(spark):
    root = tempfile.mkdtemp(prefix="dsv2-batchck-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, 10.0)]), "overwrite")
    vt.commit(_df(spark, [(2, 20.0)]), "append")
    vt.checkpoint()
    vt.commit(_df(spark, [(3, 30.0)]), "append")
    # v2 read = checkpoint base (v1) + one tail entry
    assert sorted(
        r.k for r in _batch_read(spark, root, 2).collect()
    ) == [1, 2, 3]
    # pre-checkpoint version still replays entries
    assert sorted(
        r.k for r in _batch_read(spark, root, 0).collect()
    ) == [1]


def test_batch_read_equals_jvm_snapshot(spark):
    root = tempfile.mkdtemp(prefix="dsv2-batcheq-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(i, float(i)) for i in range(50)]), "overwrite")
    vt.commit(_df(spark, [(i, float(i)) for i in range(50, 80)]), "append")
    for v in (0, 1):
        got = sorted(
            (r.k, r.v) for r in _batch_read(spark, root, v).collect()
        )
        want = sorted((r.k, r.v) for r in vt.snapshot(v).collect())
        assert got == want


def test_batch_read_time_travel_schema_is_versions_own(spark):
    root = tempfile.mkdtemp(prefix="dsv2-batchsc-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, 10.0)]), "overwrite")
    wide = spark.createDataFrame(
        [(2, 20.0, "x")], "k int, v double, tag string"
    )
    vt.commit(wide, "overwrite")
    assert _batch_read(spark, root, 0).columns == ["k", "v"]
    assert _batch_read(spark, root, 1).columns == ["k", "v", "tag"]


def test_batch_read_applies_deletion_vectors(spark):
    """A batch read must not resurrect rows a deletion vector killed —
    it stays value-equal to vt.snapshot() after commit_delete_where."""
    root = tempfile.mkdtemp(prefix="dsv2-batchdv-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(i, float(i)) for i in range(20)]), "append")
    vt.commit_delete_where("k % 3 = 0")
    got = sorted(r.k for r in _batch_read(spark, root).collect())
    want = sorted(r.k for r in vt.snapshot().collect())
    assert got == want and 0 not in got and len(got) == 13
    # time travel before the delete still sees every row
    assert len(_batch_read(spark, root, 0).collect()) == 20


def test_batch_read_version_is_pinned_across_actions(spark):
    """One DataFrame = one snapshot: a commit landing between two
    actions must not change what the second action reads (nor break
    the plan-time schema after evolution)."""
    root = tempfile.mkdtemp(prefix="dsv2-batchpin-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, 1.0), (2, 2.0)]), "append")
    dsv2_source.register(spark)
    df = (
        spark.read.format("txnlog").option("path", root).load()
    )
    assert df.count() == 2
    wide = spark.createDataFrame(
        [(9, 9.0, "x")], "k int, v double, tag string"
    )
    vt.commit(wide, "overwrite")  # new head, new schema
    # the pinned snapshot still reads the OLD version, same schema
    assert sorted(r.k for r in df.collect()) == [1, 2]
    assert df.columns == ["k", "v"]


def test_batch_read_equals_snapshot_across_delete_and_checkpoint(spark):
    """One fold serves both readers: over a log mixing an overwrite, a
    deletion-vector delete and a checkpoint that carries the vector,
    the DataSource read AS OF every version equals ``vt.snapshot``."""
    root = tempfile.mkdtemp(prefix="dsv2-batchfold-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(i, float(i)) for i in range(10)]), "append")
    vt.commit(_df(spark, [(i, float(i)) for i in range(10, 30)]), "overwrite")
    vt.commit_delete_where("k % 4 = 0")
    vt.checkpoint()
    vt.commit(_df(spark, [(30, 30.0)]), "append")
    vt.commit_delete_where("k = 13")
    assert vt.replay_plan() == (2, 2)
    for v in range(vt.current_version() + 1):
        got = sorted(tuple(r) for r in _batch_read(spark, root, v).collect())
        want = sorted(tuple(r) for r in vt.snapshot(v).collect())
        assert got == want, v
    assert 13 not in {k for k, _ in want} and 30 in {k for k, _ in want}
