"""Transaction-log versioned table: protocol-level tests (wave 60's
oracle queries prove the replay semantics against DuckDB; these cover
the log mechanics those queries don't reach)."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from kaggle_data_pipeline_with_aws_spark.operators.txnlog import (
    VersionedTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


@pytest.fixture()
def vt(spark):
    return VersionedTable(spark, tempfile.mkdtemp(prefix="txnlog-test-"))


def test_commit_versions_and_history(spark, vt):
    assert vt.current_version() == -1
    assert vt.commit(_df(spark, [(1, "a"), (2, "b")]), "overwrite") == 0
    assert vt.commit(_df(spark, [(3, "c")]), "append") == 1
    assert vt.commit(_df(spark, [(1, "z"), (9, "x")]), "overwrite",
                     op="rewrite") == 2
    hist = vt.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["rows_added"] for h in hist] == [2, 1, 2]
    assert hist[2]["op"] == "rewrite"
    assert hist[2]["n_removed"] == len(vt.live_files(1))


def test_time_travel_reads_every_version(spark, vt):
    vt.commit(_df(spark, [(1, "a"), (2, "b")]), "overwrite")
    vt.commit(_df(spark, [(3, "c")]), "append")
    vt.commit(_df(spark, [(9, "x")]), "overwrite")
    snap = lambda v: sorted(  # noqa: E731
        (r.k, r.v) for r in vt.snapshot(v).collect()
    )
    assert snap(0) == [(1, "a"), (2, "b")]
    assert snap(1) == [(1, "a"), (2, "b"), (3, "c")]
    assert snap(2) == [(9, "x")]
    assert snap(None) == [(9, "x")]  # head


def test_incremental_read_is_added_files_only(spark, vt):
    vt.commit(_df(spark, [(1, "a")]), "overwrite")
    vt.commit(_df(spark, [(2, "b")]), "append")
    vt.commit(_df(spark, [(3, "c")]), "append")
    got = sorted(r.k for r in vt.read_incremental(0, 2).collect())
    assert got == [2, 3]
    assert vt.read_incremental(2, 2).count() == 0


def test_row_diff_classification(spark, vt):
    vt.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), "overwrite")
    vt.commit(_df(spark, [(1, "a"), (2, "B"), (4, "d")]), "overwrite")
    got = {
        r.k: r.change_type for r in vt.row_diff(0, 1, ["k"]).collect()
    }
    assert got == {1: "unchanged", 2: "update", 3: "delete", 4: "insert"}


def test_commit_log_is_atomic_and_claims_version_slot(spark, vt):
    vt.commit(_df(spark, [(1, "a")]), "overwrite")
    # no temp files remain after commit
    assert not [
        n for n in os.listdir(vt.log_dir) if n.startswith(".tmp")
    ]
    # the publish primitive is rename-NONE: renaming onto the taken
    # slot raises instead of clobbering (put-if-absent)
    vt._write_small(f"{vt.log_dir}/.tmp-race", '{"version": 0}')
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        vt._fc.rename(
            vt._P(f"{vt.log_dir}/.tmp-race"),
            vt._P(f"{vt.log_dir}/00000000.json"),
            vt._rename_none,
        )
    # the losing writer's entry never became visible
    with open(f"{vt.log_dir}/00000000.json") as fh:
        e = json.load(fh)
    assert e["version"] == 0 and e["add"]


def test_concurrent_commits_one_wins_per_slot_loser_retries(spark, vt):
    """Two writers committing concurrently: each version slot is won
    exactly once, the loser retries the next slot (optimistic
    concurrency), and both commits land."""
    import threading

    vt.commit(_df(spark, [(0, "base")]), "overwrite")
    errs: list[Exception] = []
    versions: list[int] = []

    def writer(k: int):
        try:
            # each thread needs its own handle (FileContext is shared
            # state); same root, same protocol
            mine = VersionedTable(spark, vt.root)
            versions.append(
                mine.commit(_df(spark, [(k, f"w{k}")]), "append")
            )
        except Exception as exc:  # pragma: no cover - failure surface
            errs.append(exc)

    ts = [threading.Thread(target=writer, args=(k,)) for k in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert sorted(versions) == [1, 2]  # distinct slots, no clobber
    assert [e["version"] for e in vt.entries()] == [0, 1, 2]
    assert sorted(r.k for r in vt.snapshot().collect()) == [0, 1, 2]


def test_corrupt_entry_raises_loudly(spark, vt):
    vt.commit(_df(spark, [(1, "a")]), "overwrite")
    # damage the entry OUTSIDE the protocol (truncate to zero bytes)
    with open(f"{vt.log_dir}/00000000.json", "w"):
        pass
    with pytest.raises(ValueError, match="corrupt transaction-log entry"):
        vt.entries()


def test_file_uri_root_end_to_end(spark):
    """The same protocol over an explicit ``file://`` URI root — the
    substrate_store discipline: the code path that runs here is the
    one that runs against hdfs:// / abfs:// (S3's non-atomic rename is
    the documented LogStore swap)."""
    root = "file://" + tempfile.mkdtemp(prefix="txnlog-uri-")
    vt = VersionedTable(spark, root)
    vt.commit(_df(spark, [(1, "a"), (2, "b")]), "overwrite")
    vt.commit(_df(spark, [(3, "c")]), "append")
    vt.commit(_df(spark, [(9, "x")]), "overwrite")
    assert vt.current_version() == 2
    assert sorted(r.k for r in vt.snapshot(1).collect()) == [1, 2, 3]
    assert sorted(r.k for r in vt.snapshot(2).collect()) == [9]
    assert sorted(r.k for r in vt.read_incremental(0, 1).collect()) == [3]
    got = {r.k: r.change_type for r in vt.row_diff(1, 2, ["k"]).collect()}
    assert got == {1: "delete", 2: "delete", 3: "delete", 9: "insert"}
    deleted = vt.vacuum(retain_versions=1)
    assert deleted
    assert sorted(r.k for r in vt.snapshot(2).collect()) == [9]


def test_row_diff_across_schema_evolution_boundary(spark, vt):
    """ADVICE round-9: diffing across an additive-evolution commit must
    not fail on the column the older snapshot lacks — absent columns
    compare as NULL, so a row that gained a value is an update."""
    vt.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
              "overwrite")
    vt.commit(
        spark.createDataFrame(
            [(1, "a", "tag"), (2, "b", None)],
            "k int, v string, label string",
        ),
        "overwrite",
    )
    got = {r.k: r.change_type for r in vt.row_diff(0, 1, ["k"]).collect()}
    assert got == {1: "update", 2: "unchanged"}


def test_vacuum_keeps_retained_versions_readable(spark, vt):
    vt.commit(_df(spark, [(1, "a")]), "overwrite")
    vt.commit(_df(spark, [(2, "b")]), "overwrite")
    vt.commit(_df(spark, [(3, "c")]), "overwrite")
    deleted = vt.vacuum(retain_versions=2)
    assert deleted  # v0's files went away
    assert sorted(r.k for r in vt.snapshot(2).collect()) == [3]
    assert sorted(r.k for r in vt.snapshot(1).collect()) == [2]
    with pytest.raises(Exception):
        vt.snapshot(0).collect()  # vacuumed beyond retention


def test_snapshot_scan_prunes_and_pushes_down(spark, vt):
    vt.commit(
        spark.range(1000).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("string").alias("v"),
        ),
        "overwrite",
    )
    plan = (
        vt.snapshot(0)
        .filter(F.col("k") == 7)
        .select("k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,7)]" in plan


def test_compact_commit_is_row_identical_and_fewer_files(spark, vt):
    import pyspark.sql.functions as F

    df = spark.range(500).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("string").alias("v"),
    ).repartition(8)
    vt.commit(df, "overwrite")
    vt.commit(
        spark.createDataFrame([(900, "x")], "k int, v string"), "append"
    )
    v = vt.commit_compact(target_files=1)
    assert v == 2
    assert len(vt.live_files(2)) < len(vt.live_files(1))
    diff = vt.row_diff(1, 2, ["k"])
    assert diff.filter(F.col("change_type") != "unchanged").count() == 0
    assert vt.snapshot(2).count() == 501
    assert vt.history()[-1]["op"] == "compact"


def test_commit_merge_applies_all_three_clauses(spark, vt):
    import pyspark.sql.functions as F

    vt.commit(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, bal double"
        ),
        "overwrite",
    )
    src = spark.createDataFrame(
        [(2, 5.0), (3, 999.0), (4, 7.0)], "k int, d double"
    )
    vt.commit_merge(
        src,
        keys=["k"],
        when_matched={"bal": F.col("t.bal") + F.col("s.d")},
        insert_values={"bal": F.col("s.d")},
        delete_condition=F.col("s.d") > 100,
    )
    got = {r.k: r.bal for r in vt.snapshot(1).collect()}
    assert got == {1: 10.0, 2: 25.0, 4: 7.0}  # carried, updated, inserted; 3 deleted
    # v0 unchanged — isolation
    assert {r.k for r in vt.snapshot(0).collect()} == {1, 2, 3}


def test_merge_schema_reads_old_files_with_nulls(spark, vt):
    import pyspark.sql.functions as F

    vt.commit(spark.createDataFrame([(1, "a")], "k int, v string"), "append")
    vt.commit(
        spark.createDataFrame(
            [(2, "b", "tag")], "k int, v string, label string"
        ),
        "append",
    )
    snap = vt.snapshot(1, merge_schema=True)
    got = {r.k: r.label for r in snap.collect()}
    assert got == {1: None, 2: "tag"}


def test_file_stats_and_pruning_contract(spark, vt):
    """Data-skipping mechanics: stats recorded per file at commit,
    pruning keeps exactly the overlapping files, files committed
    WITHOUT stats are never skipped, and the pruned read's rows equal
    the full read's filtered rows."""
    import pyspark.sql.functions as F

    for lo in (0, 100, 200):
        vt.commit(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(10)],
                "k int, v string",
            ).repartition(1),
            "append",
            stats_cols=["k"],
        )
    # a stats-less commit: always scanned
    vt.commit(
        spark.createDataFrame(
            [(999, "z")], "k int, v string"
        ).repartition(1),
        "append",
    )
    stats = vt.file_stats()
    assert len(stats) == 4
    ranged = [s for s in stats.values() if s]
    assert sorted(r["k"] for r in ranged) == [
        [0, 9], [100, 109], [200, 209],
    ]
    files, total = vt.pruned_files_ranges({"k": (100, 109)})
    assert total == 4
    assert len(files) == 2  # the matching slice + the stats-less file
    got = sorted(
        r.k for r in vt.snapshot_pruned_ranges({"k": (100, 109)}).collect()
    )
    want = sorted(
        r.k for r in vt.snapshot().filter(
            (F.col("k") >= 100) & (F.col("k") <= 109)
        ).collect()
    )
    assert got == want
    # unbounded ends
    files_lo, _ = vt.pruned_files_ranges({"k": (None, 9)})
    assert len(files_lo) == 2
    # overwrite drops the old stats with the old files
    vt.commit(
        spark.createDataFrame([(5, "w")], "k int, v string").repartition(1),
        "overwrite",
        stats_cols=["k"],
    )
    stats2 = vt.file_stats()
    assert len(stats2) == 1 and list(stats2.values())[0]["k"] == [5, 5]


def test_checkpoint_replay_plan_and_equivalence(spark, vt):
    """Checkpointing: reads at-or-above the checkpoint start from it
    (O(tail) replay plan), reads below fall back to full replay, and
    every snapshot/stats answer is identical with and without the
    checkpoint. Publishing is idempotent and atomic (rename-NONE)."""
    for i in range(6):
        vt.commit(
            _df(spark, [(i, f"v{i}")]),
            "append" if i % 3 else "overwrite",
            stats_cols=["k"],
        )
    before = {v: vt.live_files(v) for v in range(6)}
    stats_before = vt.file_stats(4)
    assert vt.checkpoint(3) == 3
    assert vt.checkpoint(3) == 3  # idempotent
    assert vt.replay_plan(2) == (None, 3)   # below: full replay
    assert vt.replay_plan(3) == (3, 0)      # at: zero tail
    assert vt.replay_plan(5) == (3, 2)      # above: checkpoint + tail
    for v in range(6):
        assert vt.live_files(v) == before[v], f"v{v}"
    assert vt.file_stats(4) == stats_before
    snap = sorted((r.k, r.v) for r in vt.snapshot(4).collect())
    assert snap == [(3, "v3"), (4, "v4")]  # v3 overwrite + v4 append
    # a later checkpoint supersedes for reads above it
    vt.checkpoint(5)
    assert vt.replay_plan(5) == (5, 0)
    assert vt.replay_plan(4) == (3, 1)


# ---------------------------------------------------------------------------
# Round-11: snapshot-isolation conflict detection (verdict #1), vacuum
# retention floors (verdict #7), stats type safety (ADVICE medium),
# replay_plan clamp + checkpoint validation (ADVICE lows).
# ---------------------------------------------------------------------------
def test_commit_with_read_version_raises_when_head_moved(spark, vt):
    from kaggle_data_pipeline_with_aws_spark.operators.txnlog import (
        ConcurrentModificationError,
    )

    vt.commit(_df(spark, [(1, "a")]), "overwrite")  # v0
    other = VersionedTable(spark, vt.root)
    other.commit(_df(spark, [(2, "b")]), "append")  # v1 — the interleave
    with pytest.raises(ConcurrentModificationError, match="read version 0"):
        vt.commit(_df(spark, [(9, "stale")]), "overwrite", read_version=0)
    # the stale result never became a version; the interleave survived
    assert vt.current_version() == 1
    assert sorted(r.k for r in vt.snapshot().collect()) == [1, 2]


def test_merge_racing_append_recomputes_never_loses_update(spark, vt):
    """The round-10 verdict's lost-update scenario: an append lands
    between commit_merge's snapshot read and its slot claim. The merge
    must recompute against the new head (or fail) — never silently
    clobber the append."""
    import pyspark.sql.functions as F

    vt.commit(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, bal double"),
        "overwrite",
    )
    src = spark.createDataFrame([(2, 5.0), (4, 7.0)], "k int, d double")

    real_snapshot = vt.snapshot
    interleaved = {"done": False}

    def snapshot_with_interleave(version=None, merge_schema=False):
        out = real_snapshot(version, merge_schema)
        if not interleaved["done"]:
            interleaved["done"] = True
            VersionedTable(spark, vt.root).commit(
                spark.createDataFrame([(99, 1.0)], "k int, bal double"),
                "append",
            )
        return out

    vt.snapshot = snapshot_with_interleave
    try:
        v = vt.commit_merge(
            src,
            keys=["k"],
            when_matched={"bal": F.col("t.bal") + F.col("s.d")},
            insert_values={"bal": F.col("s.d")},
        )
    finally:
        del vt.snapshot  # restore the bound method
    assert v == 2  # v1 was the interleaved append; merge recomputed
    got = {r.k: r.bal for r in vt.snapshot().collect()}
    # the interleaved row 99 was NOT lost, and the merge applied
    assert got == {1: 10.0, 2: 25.0, 4: 7.0, 99: 1.0}


def test_vacuum_age_floor_protects_inflight_reader(spark, vt):
    """Grace-windowed vacuum: with a min_age_ms floor nothing young is
    deleted, so a reader that resolved its file list before the vacuum
    still scans successfully (the substrate_store GC discipline)."""
    vt.commit(_df(spark, [(1, "a")]), "overwrite")
    vt.commit(_df(spark, [(2, "b")]), "overwrite")
    vt.commit(_df(spark, [(3, "c")]), "overwrite")
    inflight = vt.snapshot(0)  # file list resolved now, scan deferred
    assert vt.vacuum(retain_versions=1, min_age_ms=3_600_000) == []
    assert sorted(r.k for r in inflight.collect()) == [1]
    # past the grace window (floor 0) the same call collects them
    deleted = vt.vacuum(retain_versions=1, min_age_ms=0)
    assert deleted
    with pytest.raises(Exception):
        vt.snapshot(0).collect()


def test_vacuum_never_deletes_latest_checkpoint_basis(spark, vt):
    """Files referenced by the latest (non-superseded) checkpoint's
    live set survive vacuum whatever the version retention — the
    checkpoint must remain a valid read basis. A newer checkpoint
    supersedes and releases them."""
    vt.commit(_df(spark, [(1, "a")]), "overwrite")  # v0
    vt.commit(_df(spark, [(2, "b")]), "overwrite")  # v1
    vt.checkpoint(1)
    vt.commit(_df(spark, [(3, "c")]), "overwrite")  # v2
    vt.commit(_df(spark, [(4, "d")]), "overwrite")  # v3
    deleted = set(vt.vacuum(retain_versions=1))
    assert not (deleted & set(vt._read_checkpoint(1)["live"]))
    assert sorted(r.k for r in vt.snapshot(1).collect()) == [2]
    vt.checkpoint(3)  # supersedes the v1 checkpoint
    deleted2 = set(vt.vacuum(retain_versions=1))
    assert set(vt._read_checkpoint(1)["live"]) <= deleted2
    assert sorted(r.k for r in vt.snapshot(3).collect()) == [4]


def test_stats_skip_non_order_preserving_types(spark, vt):
    """Timestamps/dates/decimals must NOT be recorded as stringified
    stats (lexicographic pruning on them is wrong — round-10 ADVICE):
    the column is simply unprunable."""
    import pyspark.sql.functions as F

    vt.commit(
        spark.createDataFrame(
            [(1, "2024-01-05"), (2, "2024-03-05")], "k int, d string"
        ).select("k", F.col("d").cast("timestamp").alias("ts"))
        .repartition(1),
        "append",
        stats_cols=["k", "ts"],
    )
    stats = list(vt.file_stats().values())[0]
    assert "k" in stats and "ts" not in stats
    # pruning on the unrecorded column keeps every file
    files, total = vt.pruned_files_ranges(
        {"ts": ("1990-01-01", "1990-12-31")}
    )
    assert len(files) == total == 1


def test_pruning_cross_type_bounds_keep_files(spark, vt):
    """A bound whose type shares no total order with the recorded
    stats proves nothing — the file is kept, and numeric bounds
    against string stats never raise (round-10 ADVICE: they used to
    TypeError)."""
    vt.commit(
        spark.createDataFrame(
            [("2024-01", 1), ("2024-02", 2)], "m string, k int"
        ).repartition(1),
        "append",
        stats_cols=["m", "k"],
    )
    # int bounds against string stats: kept, no TypeError
    files, total = vt.pruned_files_ranges({"m": (5, 10)})
    assert len(files) == total == 1
    # string bounds against int stats: kept, no TypeError
    files2, _ = vt.pruned_files_ranges({"k": ("a", "z")})
    assert len(files2) == 1
    # same-type bounds still prune
    files3, _ = vt.pruned_files_ranges({"m": ("2025-01", "2025-12")})
    assert files3 == []


def test_replay_plan_clamps_to_head(spark, vt):
    vt.commit(_df(spark, [(1, "a")]), "overwrite")
    vt.commit(_df(spark, [(2, "b")]), "append")
    assert vt.replay_plan(99) == vt.replay_plan(1) == (None, 2)
    vt.checkpoint(1)
    assert vt.replay_plan(99) == (1, 0)


def test_checkpoint_empty_log_raises_value_error(spark, vt):
    with pytest.raises(ValueError, match="empty log"):
        vt.checkpoint()


def test_commit_unknown_mode_raises_value_error(spark, vt):
    with pytest.raises(ValueError, match="unknown commit mode"):
        vt.commit(_df(spark, [(1, "a")]), "upsert")


def test_compound_pruning_intersects_per_column_decisions(spark, vt):
    """Conjunctive multi-column skipping: a file is kept only when
    EVERY probed column's recorded range can intersect its bound, and
    the pruned read's rows equal the full read's filtered rows."""
    import pyspark.sql.functions as F

    for half, m in [(0, "a"), (0, "b"), (1, "a"), (1, "b")]:
        lo = half * 100
        vt.commit(
            spark.createDataFrame(
                [(lo + i, m, i) for i in range(10)],
                "k int, m string, v int",
            ).repartition(1),
            "append",
            stats_cols=["k", "m"],
        )
    files, total = vt.pruned_files_ranges({"k": (0, 50), "m": ("b", "b")})
    assert total == 4 and len(files) == 1
    got = sorted(
        (r.k, r.m)
        for r in vt.snapshot_pruned_ranges(
            {"k": (0, 50), "m": ("b", "b")}
        ).collect()
    )
    want = sorted(
        (r.k, r.m)
        for r in vt.snapshot()
        .filter((F.col("k") >= 0) & (F.col("k") <= 50) & (F.col("m") == "b"))
        .collect()
    )
    assert got == want
    # unbounded column keeps everything on that axis
    files2, _ = vt.pruned_files_ranges({"k": (None, None), "m": ("a", "a")})
    assert len(files2) == 2


# -- bloom-filter point-lookup index (round 11) -------------------------


def _bloom_vt(spark):
    """4 single-file commits, 25 distinct keys each, bloom on k."""
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="txnlog-blm-"))
    for g in range(4):
        rows = [(g * 100 + i, f"v{g}") for i in range(25)]
        vt.commit(
            _df(spark, rows).repartition(1), "append", bloom_col="k"
        )
    return vt


def test_bloom_admits_containing_file_and_reads_exact_rows(spark):
    vt = _bloom_vt(spark)
    files, total = vt.bloom_admitted_files("k", 207)
    assert total == 4
    # the containing file is ALWAYS admitted (no false negatives)
    assert any("c-" in f for f in files) and 1 <= len(files) <= 4
    got = [(r.k, r.v) for r in vt.snapshot_bloom("k", 207).collect()]
    assert got == [(207, "v2")]


def test_bloom_absent_key_skips_most_files_reads_nothing(spark):
    vt = _bloom_vt(spark)
    files, total = vt.bloom_admitted_files("k", 999_999)
    # 2 hashes over 16384 bits vs ≤50 set bits/file: P(fp) ≈ 1e-5 —
    # deterministic here (fixed hashes, fixed keys), assert the strong
    # form and let a real fp surface as a test failure to investigate
    assert files == [] and total == 4
    assert vt.snapshot_bloom("k", 999_999).count() == 0


def test_bloom_unindexed_files_always_admitted(spark, vt):
    vt.commit(_df(spark, [(1, "a")]).repartition(1), "append")
    vt.commit(
        _df(spark, [(2, "b")]).repartition(1), "append", bloom_col="k"
    )
    files, total = vt.bloom_admitted_files("k", 777)
    # the unindexed file stays (no proof), the indexed one skips
    assert total == 2 and len(files) == 1


def test_bloom_survives_checkpoint_boundary(spark):
    vt = _bloom_vt(spark)
    vt.checkpoint()
    vt.commit(_df(spark, [(900, "z")]).repartition(1), "append",
              bloom_col="k")
    files, total = vt.bloom_admitted_files("k", 105)
    assert total == 5 and 1 <= len(files) <= 2
    got = [(r.k, r.v) for r in vt.snapshot_bloom("k", 105).collect()]
    assert got == [(105, "v1")]


def test_bloom_rejects_float_keys(spark, vt):
    df = spark.createDataFrame([(1.5, "a")], "k double, v string")
    with pytest.raises(ValueError, match="int/string"):
        vt.commit(df, "append", bloom_col="k")


def test_vacuum_deletes_bloom_sidecars_with_their_files(spark):
    vt = _bloom_vt(spark)
    root = vt.root
    sidecars = lambda: sorted(
        f
        for f in os.listdir(f"{root}/_txn_index")
        if f.startswith("blm-")  # not Hadoop's .crc checksum twins
    ) if os.path.isdir(f"{root}/_txn_index") else []
    assert len(sidecars()) == 4
    vt.commit_compact(target_files=1)  # rewrites: old files dead
    vt.vacuum(retain_versions=1)
    # the 4 pre-compaction files' sidecars died with them
    assert len(sidecars()) == 0
    # the table still answers (compacted file has no bloom: admitted)
    assert vt.snapshot_bloom("k", 207).count() == 1


# -- deletion vectors (round 11) ----------------------------------------


def _dv_vt(spark):
    """Two single-file commits, keys 0..9 and 10..19."""
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="txnlog-dv-"))
    vt.commit(
        _df(spark, [(i, "a") for i in range(10)]).repartition(1),
        "append",
    )
    vt.commit(
        _df(spark, [(i, "b") for i in range(10, 20)]).repartition(1),
        "append",
    )
    return vt


def test_delete_where_filters_without_rewriting_files(spark):
    vt = _dv_vt(spark)
    files_before = vt.live_files()
    v = vt.commit_delete_where("k % 2 = 0")
    assert v == 2
    # no files added or removed — the delete is pure metadata
    assert vt.live_files() == files_before
    got = sorted(r.k for r in vt.snapshot().collect())
    assert got == [1, 3, 5, 7, 9, 11, 13, 15, 17, 19]
    # both files carry a DV of their 5 even rows
    dvs = vt.file_dvs()
    assert len(dvs) == 2 and all(m["n"] == 5 for m in dvs.values())


def test_snapshot_with_dvs_runs_no_job_and_keeps_file_schema(
    spark, monkeypatch
):
    """A snapshot is planned from the log alone: no footer-inference
    job, even with a deletion vector to apply, and the logged schema
    is the one Spark would infer from the files. Reading it builds no
    frame from Python data, so it starts no Python worker."""
    from pyspark.sql import SparkSession

    def no_python_frames(*args, **kwargs):
        raise AssertionError("the read built a DataFrame from Python data")

    vt = _dv_vt(spark)
    vt.commit_delete_where("k % 2 = 0")
    monkeypatch.setattr(SparkSession, "createDataFrame", no_python_frames)
    sc = spark.sparkContext
    sc.setJobGroup("txnlog-snapshot-read", "snapshot read")
    try:
        snap = vt.snapshot()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("txnlog-snapshot-read") == []
    files = [f"{vt.root}/{f}" for f in vt.live_files()]
    assert snap.schema == spark.read.parquet(*files).schema
    assert sorted(r.k for r in snap.collect()) == list(range(1, 20, 2))


def test_delete_time_travel_sees_predelete_rows(spark):
    vt = _dv_vt(spark)
    vt.commit_delete_where("k < 15")
    assert vt.snapshot().count() == 5
    assert vt.snapshot(1).count() == 20  # pre-delete: rows intact
    assert vt.snapshot(0).count() == 10


def test_second_delete_merges_positions(spark):
    vt = _dv_vt(spark)
    vt.commit_delete_where("k < 5")
    vt.commit_delete_where("k >= 15")
    got = sorted(r.k for r in vt.snapshot().collect())
    assert got == [5, 6, 7, 8, 9, 10, 11, 12, 13, 14]
    # intermediate version applies only the first DV
    assert sorted(r.k for r in vt.snapshot(2).collect()) == list(
        range(5, 20)
    )


def test_delete_then_compact_materializes_and_drops_dvs(spark):
    vt = _dv_vt(spark)
    vt.commit_delete_where("k >= 10")
    vt.commit_compact(target_files=1)
    assert sorted(r.k for r in vt.snapshot().collect()) == list(range(10))
    assert vt.file_dvs() == {}  # rewrite retired the vectors


def test_delete_row_diff_classifies_deletes(spark):
    vt = _dv_vt(spark)
    v0 = vt.current_version()
    vt.commit_delete_where("k = 3 OR k = 17")
    diff = {
        r.k: r.change_type
        for r in vt.row_diff(v0, vt.current_version(), ["k"]).collect()
    }
    assert diff[3] == "delete" and diff[17] == "delete"
    assert diff[4] == "unchanged"


def test_delete_pruned_and_bloom_reads_apply_dvs(spark):
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="txnlog-dvp-"))
    vt.commit(
        _df(spark, [(i, "x") for i in range(20)]).repartition(1),
        "append",
        stats_cols=["k"],
        bloom_col="k",
    )
    vt.commit_delete_where("k = 7")
    assert sorted(
        r.k for r in vt.snapshot_pruned_ranges({"k": (5, 9)}).collect()
    ) == [5, 6, 8, 9]
    assert vt.snapshot_bloom("k", 7).count() == 0
    assert vt.snapshot_bloom("k", 8).count() == 1


def test_delete_survives_checkpoint_boundary(spark):
    vt = _dv_vt(spark)
    vt.commit_delete_where("k < 3")
    vt.checkpoint()
    vt.commit(_df(spark, [(99, "z")]).repartition(1), "append")
    got = sorted(r.k for r in vt.snapshot().collect())
    assert got == list(range(3, 20)) + [99]


def test_delete_racing_append_recomputes(spark):
    """An append landing between the delete's read and its slot claim
    must not be lost OR wrongly deleted: the delete recomputes (its
    predicate re-evaluated against the new head)."""
    vt = _dv_vt(spark)
    orig_publish = vt._publish_entry
    raced = {"done": False}

    def racing_publish(build, read_version=None):
        if not raced["done"]:
            raced["done"] = True
            vt2 = VersionedTable(vt.spark, vt.root)
            vt2.commit(
                _df(vt.spark, [(100, "c"), (101, "c")]).repartition(1),
                "append",
            )
        return orig_publish(build, read_version)

    vt._publish_entry = racing_publish
    try:
        vt.commit_delete_where("k % 2 = 0")
    finally:
        vt._publish_entry = orig_publish
    got = sorted(r.k for r in vt.snapshot().collect())
    # odd originals survive; the raced-in 101 survives; 100 (even,
    # present at recompute time) is deleted by the re-evaluated
    # predicate — the recompute semantics, not a lost update
    assert got == [1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 101]


def test_vacuum_retires_superseded_dv_sidecars_only(spark):
    vt = _dv_vt(spark)
    vt.commit_delete_where("k = 0")  # v2: sidecar A on file 1
    vt.commit_delete_where("k = 1")  # v3: merged sidecar B supersedes A
    root = vt.root
    dv_sides = lambda: sorted(
        f
        for f in os.listdir(f"{root}/_txn_index")
        if f.startswith("dv-")
    )
    assert len(dv_sides()) == 2  # A (v2) + merged B (v3)
    deleted = vt.vacuum(retain_versions=1)
    # A is no retained version's read basis anymore — retired; the
    # merged B stays referenced by the head
    assert len(dv_sides()) == 1
    assert any(s.startswith("_txn_index/dv-") for s in deleted)
    assert sorted(r.k for r in vt.snapshot().collect()) == list(
        range(2, 20)
    )


# -- transactional (exactly-once) writes (round 11) ---------------------


def test_txn_commit_skips_replayed_version(spark, vt):
    vt.commit(_df(spark, [(1, "a")]), "append", txn_app="w",
              txn_version=0)
    vt.commit(_df(spark, [(2, "b")]), "append", txn_app="w",
              txn_version=1)
    # a replayed batch — with different (wrong) data — must be skipped
    vt.commit(_df(spark, [(999, "DUP")]), "append", txn_app="w",
              txn_version=1)
    assert sorted(r.k for r in vt.snapshot().collect()) == [1, 2]
    assert vt.current_version() == 1
    assert vt.last_txn_version("w") == 1


def test_txn_apps_are_independent(spark, vt):
    vt.commit(_df(spark, [(1, "a")]), "append", txn_app="w1",
              txn_version=5)
    vt.commit(_df(spark, [(2, "b")]), "append", txn_app="w2",
              txn_version=0)
    assert vt.last_txn_version("w1") == 5
    assert vt.last_txn_version("w2") == 0
    assert vt.last_txn_version("nobody") == -1
    assert sorted(r.k for r in vt.snapshot().collect()) == [1, 2]


def test_txn_requires_both_params(spark, vt):
    with pytest.raises(ValueError, match="together"):
        vt.commit(_df(spark, [(1, "a")]), "append", txn_app="w")


def test_txn_watermark_survives_checkpoint(spark, vt):
    vt.commit(_df(spark, [(1, "a")]), "append", txn_app="w",
              txn_version=3)
    vt.checkpoint()
    vt.commit(_df(spark, [(2, "b")]), "append")
    assert vt.last_txn_version("w") == 3
    vt.commit(_df(spark, [(9, "z")]), "append", txn_app="w",
              txn_version=3)  # replay across the checkpoint: skipped
    assert sorted(r.k for r in vt.snapshot().collect()) == [1, 2]


def test_txn_racing_duplicate_writers_land_once(spark, vt):
    """Two writers replaying the SAME (app, version) concurrently:
    exactly one lands, whatever the interleaving — the high-water
    mark is re-checked under the slot-claim race."""
    import threading

    vt.commit(_df(spark, [(0, "base")]), "append")
    errs: list[Exception] = []

    def writer(tag: int):
        try:
            mine = VersionedTable(spark, vt.root)
            mine.commit(
                _df(spark, [(tag, f"w{tag}")]), "append",
                txn_app="race", txn_version=7,
            )
        except Exception as exc:  # pragma: no cover - failure surface
            errs.append(exc)

    ts = [threading.Thread(target=writer, args=(k,)) for k in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    rows = sorted(r.k for r in vt.snapshot().collect())
    # base plus exactly ONE of the two racers
    assert len(rows) == 2 and rows[0] == 0 and rows[1] in (1, 2)
    assert vt.last_txn_version("race") == 7


def test_txn_loser_reclaims_orphan_files(spark, vt):
    """A transactional writer that loses the replay race AFTER writing
    its parquet files must delete them on the skip path — no entry
    references them, so vacuum could never reclaim them."""
    vt.commit(_df(spark, [(0, "base")]), "append")
    orig = vt._publish_entry
    raced = {"done": False}

    def racing_publish(build, read_version=None):
        if not raced["done"]:
            raced["done"] = True
            other = VersionedTable(spark, vt.root)
            other.commit(
                _df(spark, [(50, "winner")]).repartition(1), "append",
                txn_app="a", txn_version=1, bloom_col="k",
            )
        return orig(build, read_version)

    vt._publish_entry = racing_publish
    try:
        vt.commit(
            _df(spark, [(60, "loser")]).repartition(1), "append",
            txn_app="a", txn_version=1, bloom_col="k",
        )
    finally:
        vt._publish_entry = orig
    assert sorted(r.k for r in vt.snapshot().collect()) == [0, 50]
    # every commit dir on disk is referenced by some log entry
    referenced = {
        rel.split("/")[1] for e in vt.entries() for rel in e["add"]
    }
    on_disk = set(os.listdir(f"{vt.root}/data"))
    assert on_disk == referenced
    # and no orphan bloom sidecars either (winner's one survives)
    sides = [
        f for f in os.listdir(f"{vt.root}/_txn_index")
        if f.startswith("blm-")
    ]
    assert len(sides) == 1


def _count_log_io(vt) -> dict[str, int]:
    """Counts of ``_txn`` listings and log-file reads made through
    ``vt`` from now on (the dict updates in place)."""
    calls = {"list": 0, "read": 0}

    def counted(name, key):
        real = getattr(vt, name)

        def wrapper(*args):
            calls[key] += 1
            return real(*args)

        setattr(vt, name, wrapper)

    counted("_list_log", "list")
    counted("_read_log", "read")
    return calls


def test_txn_commit_lists_the_log_once_per_slot_attempt(spark, vt):
    """An uncontended transactional commit replays the log once for its
    up-front skip check; the slot attempt then lists once more and reads
    only the entries committed since that check (none here). A plain
    append lists once and reads no entry."""
    for k in range(3):
        vt.commit(_df(spark, [(k, "x")]), "append")
    calls = _count_log_io(vt)
    assert vt.commit(
        _df(spark, [(3, "t")]), "append", txn_app="a", txn_version=1
    ) == 3
    assert calls["list"] <= 2 and calls["read"] <= 3, calls
    calls.update(list=0, read=0)
    assert vt.commit(_df(spark, [(4, "p")]), "append") == 4
    assert calls == {"list": 1, "read": 0}


def test_snapshot_dependent_overwrite_replays_the_log_once(spark, vt):
    """Compaction and merge take their removes from the replay their
    snapshot made: each log entry is read once, and the log is listed
    for the head, the snapshot and the slot claim only."""
    for k in range(4):
        vt.commit(_df(spark, [(k, "x")]), "append")
    before = vt.live_files()
    calls = _count_log_io(vt)
    assert vt.commit_compact(1) == 4
    assert calls["read"] == 4 and calls["list"] <= 3, calls
    compacted = vt.live_files()
    assert vt.entries()[4]["remove"] == before
    calls.update(list=0, read=0)
    assert vt.commit_merge(_df(spark, [(9, "m")]), keys=["k"]) == 5
    assert calls["read"] == 5 and calls["list"] <= 3, calls
    assert vt.entries()[5]["remove"] == compacted
    assert sorted(r.k for r in vt.snapshot().collect()) == [0, 1, 2, 3, 9]


def test_vacuum_reports_bloom_sidecars_in_deleted_list(spark):
    vt = _bloom_vt(spark)
    vt.commit_compact(target_files=1)
    deleted = vt.vacuum(retain_versions=1)
    assert any(s.startswith("_txn_index/blm-") for s in deleted)
