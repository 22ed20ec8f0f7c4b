"""Cricket-domain correctness: flatten semantics, ledger increments,
renumbering, idempotent replay — the reference behaviors SURVEY §5 says
must be tested (golden semantics, not golden bytes)."""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kaggle_data_pipeline_with_aws_spark.operators import flatten
from kaggle_data_pipeline_with_aws_spark.operators.ledger import read_ledger
from kaggle_data_pipeline_with_aws_spark.operators.txnlog import VersionedTable
from kaggle_data_pipeline_with_aws_spark.pipeline import (
    list_candidate_files,
    run_incremental,
    version_notes,
)
from kaggle_data_pipeline_with_aws_spark.schemas import CRICSHEET_MATCH_SCHEMA
from kaggle_data_pipeline_with_aws_spark.sources.readers import read_json_documents

from cricket_fixtures import write_fixture_dir


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    write_fixture_dir(str(d), n_matches=20, seed=42)
    return str(d)


@pytest.fixture(scope="module")
def raw(spark, landing):
    return read_json_documents(spark, landing, CRICSHEET_MATCH_SCHEMA).cache()


def _python_flatten(path):
    """Independent oracle: plain-python triple loop (the reference's
    algorithm, extract_deliverywise...py:96-202) over the same files."""
    rows = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".json"):
            continue
        match_id = int(name.split(".")[0])
        with open(os.path.join(path, name)) as f:
            doc = json.load(f)
        teams = doc["info"]["teams"]
        for innings_number, inning in enumerate(doc["innings"], start=1):
            batting = inning["team"]
            bowling = [t for t in teams if t != batting][0]
            for over in inning["overs"]:
                for ball_number, ball in enumerate(over["deliveries"], start=1):
                    extras = ball.get("extras", {})
                    wickets = ball.get("wickets", [])
                    w0 = wickets[0] if wickets else {}
                    fielders = w0.get("fielders", [])
                    rows.append(
                        (
                            match_id,
                            innings_number,
                            batting,
                            bowling,
                            over["over"],
                            ball_number,
                            ball["batter"],
                            extras.get("wides", 0),
                            extras.get("penalty", 0),
                            ball["runs"]["total"],
                            w0.get("player_out"),
                            w0.get("kind"),
                            fielders[0]["name"] if fielders else None,
                        )
                    )
    return rows


def test_deliverywise_matches_python_oracle(raw, landing):
    got = sorted(
        tuple(r)
        for r in flatten.deliverywise(raw)
        .select(
            "match_id",
            "innings_number",
            "batting_team",
            "bowling_team",
            "over_number",
            "ball_number",
            "batter",
            "wide_runs",
            "penalty_runs",
            "total_runs",
            "player_dismissed",
            "dismissal_type",
            "fielder_name",
        )
        .collect()
    )
    want = sorted(_python_flatten(landing))
    assert got == want


def test_matchwise_totals_equal_delivery_sums(raw):
    m = flatten.matchwise(raw)
    d = flatten.deliverywise(raw)
    sums = (
        d.groupBy("match_id", "batting_team")
        .agg(F.sum("total_runs").alias("runs"))
        .collect()
    )
    by_match = {(r["match_id"], r["batting_team"]): r["runs"] for r in sums}
    for row in m.collect():
        t1 = by_match.get((row["match_id"], row["team_1"]), 0)
        t2 = by_match.get((row["match_id"], row["team_2"]), 0)
        assert row["team_1_total_runs"] == t1, row["match_id"]
        assert row["team_2_total_runs"] == t2, row["match_id"]


def test_matchwise_null_semantics(raw):
    rows = flatten.matchwise(raw).collect()
    assert len(rows) == 20
    for r in rows:
        # winner = coalesce(outcome.winner, outcome.result): never null
        assert r["winner"] is not None
        # margins: at most one non-null; both null for tie/no-result
        if r["winner"] in ("tie", "no result"):
            assert r["margin_runs"] is None and r["margin_wickets"] is None
        else:
            assert (r["margin_runs"] is None) != (r["margin_wickets"] is None)


def test_incremental_pipeline_and_ledger(spark, landing, tmp_path):
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    # cycle 1: cap 10 → only 10 files processed
    r1 = run_incremental(spark, landing, state, out, max_files_per_cycle=10)
    assert r1.n_new_files == 10
    assert r1.matchwise.count() == 10
    # cycle 2: the remaining 10
    r2 = run_incremental(spark, landing, state, out, max_files_per_cycle=10)
    assert r2.n_new_files == 10
    assert r2.matchwise.count() == 20
    # cycle 3: nothing new; replay is a no-op (T7 idempotency)
    r3 = run_incremental(spark, landing, state, out, max_files_per_cycle=10)
    assert r3.n_new_files == 0
    assert r3.matchwise.count() == 20
    assert r3.deliverywise.count() == r2.deliverywise.count()

    # match_number is a contiguous 1..N sequence in (date, match_id) order
    rows = r3.matchwise.orderBy("match_number").collect()
    assert [r["match_number"] for r in rows] == list(range(1, 21))
    keys = [(r["date"], r["match_id"]) for r in rows]
    assert keys == sorted(keys)

    # every delivery row carries its match_number (J1 enrich)
    assert (
        r3.deliverywise.filter(F.col("match_number").isNull()).count() == 0
    )

    # CSV artifacts exist with headers
    assert any(
        f.endswith(".csv") for f in os.listdir(f"{out}/matchwise_data")
    )
    notes = version_notes(r3.matchwise)
    # reference template: upload_dataset_to_kaggle_lambda.py:66
    assert notes["notes"].startswith("Updated till the match between ")


def test_steady_state_cycle_cost(spark, landing, tmp_path, monkeypatch):
    """Neither the first cycle of ten files nor the second builds a
    DataFrame from Python data (so neither starts a Python worker); the
    second launches at most 26 Spark jobs, every one of them under the
    caller's job group, also those its worker threads launch, and adds
    one ledger file. Snapshot reads of its three tables run no job, and
    their logged schema is the one Spark would infer from the files."""
    from pyspark.sql import SparkSession

    def no_python_frames(*args, **kwargs):
        raise AssertionError("the cycle built a DataFrame from Python data")

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    monkeypatch.setattr(SparkSession, "createDataFrame", no_python_frames)
    run_incremental(spark, landing, state, out, max_files_per_cycle=10)
    monkeypatch.undo()
    sc = spark.sparkContext
    store = spark._jsc.sc().statusStore()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def all_job_ids():
        return {job.jobId() for job in as_java(store.jobsList(None))}

    def jobs_under(group, fn):
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        before = all_job_ids()
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        n_grouped = len(sc.statusTracker().getJobIdsForGroup(group))
        return result, n_grouped, len(all_job_ids() - before)

    def second_cycle():
        r = run_incremental(spark, landing, state, out, max_files_per_cycle=10)
        return r, version_notes(r.matchwise)

    monkeypatch.setattr(SparkSession, "createDataFrame", no_python_frames)
    (result, notes), n_jobs, n_all = jobs_under(
        "cycle-cost-second", second_cycle
    )
    monkeypatch.undo()
    assert result.n_new_files == 10 and result.matchwise.count() == 20
    assert notes["notes"].startswith("Updated till the match between ")
    assert n_all == n_jobs <= 26
    ledger = VersionedTable(spark, f"{state}/file_status")
    assert ledger.history()[-1]["n_added"] == 1

    for name in ("silver_matchwise", "silver_deliverywise", "file_status"):
        table = VersionedTable(spark, f"{state}/{name}")
        snap, n_jobs, n_all = jobs_under(
            f"cycle-cost-{name}", table.snapshot
        )
        assert n_jobs == n_all == 0, name
        files = [f"{table.root}/{f}" for f in table.live_files()]
        assert snap.schema == spark.read.parquet(*files).schema, name


class _Crash(Exception):
    pass


def _cycle(spark, landing, root):
    return run_incremental(
        spark,
        landing,
        f"{root}/state",
        f"{root}/out",
        max_files_per_cycle=3,
        single_file_csv=True,
    )


def _cycle_outcome(spark, root):
    """Silver row multisets, published CSV bytes and ledger file names."""
    silver = {
        t: Counter(
            VersionedTable(spark, f"{root}/state/{t}").snapshot().collect()
        )
        for t in ("silver_matchwise", "silver_deliverywise")
    }
    csv = {}
    for t in ("matchwise_data", "deliverywise_data"):
        (part,) = glob.glob(f"{root}/out/{t}/part-*.csv")
        with open(part, "rb") as f:
            csv[t] = f.read()
    ledger = sorted(
        r["file_name"] for r in read_ledger(spark, f"{root}/state").collect()
    )
    return silver, csv, ledger


def test_cycle_converges_after_crash_at_each_commit(
    spark, tmp_path, monkeypatch
):
    """Six landed files, three per cycle. Cycle 2 is killed at each of its
    commits in turn (silver matchwise, silver deliverywise, ledger), once
    before the commit's data write and once after the write but before
    its log entry is published; each rerun crashes at the next point.
    A clean rerun must then reach an uninterrupted cycle 2's silver
    rows, published CSV bytes and ledger."""
    landing = str(tmp_path / "landing")
    write_fixture_dir(landing, n_matches=6, seed=9)
    clean, crashed = tmp_path / "clean", tmp_path / "crashed"
    _cycle(spark, landing, clean)
    shutil.copytree(clean, crashed)
    assert _cycle(spark, landing, clean).n_new_files == 3
    want = _cycle_outcome(spark, clean)
    assert want[2] == sorted(os.listdir(landing))  # each file once

    for k in (1, 2, 3):
        for name in ("commit", "_publish_entry"):
            real = getattr(VersionedTable, name)
            calls = []

            def crash_on_kth(self, *args, _real=real, **kwargs):
                calls.append(1)
                if len(calls) == k:
                    raise _Crash
                return _real(self, *args, **kwargs)

            monkeypatch.setattr(VersionedTable, name, crash_on_kth)
            with pytest.raises(_Crash):
                _cycle(spark, landing, crashed)
            monkeypatch.undo()

    assert _cycle(spark, landing, crashed).n_new_files == 3
    assert _cycle_outcome(spark, crashed) == want


def test_cycle_branch_failure_reraised_and_threads_joined(
    spark, tmp_path, monkeypatch
):
    """The deliverywise silver append fails inside its worker thread:
    the cycle re-raises that exception once every branch has ended,
    commits nothing to the ledger and leaves no thread behind; a clean
    rerun then reaches an uninterrupted cycle's outcome. Neither run
    raises a warning of its own."""
    import threading
    import warnings

    from kaggle_data_pipeline_with_aws_spark import pipeline

    landing = str(tmp_path / "landing")
    write_fixture_dir(landing, n_matches=6, seed=11)
    clean, failed = tmp_path / "clean", tmp_path / "failed"
    _cycle(spark, landing, clean)
    shutil.copytree(clean, failed)
    _cycle(spark, landing, clean)
    want = _cycle_outcome(spark, clean)

    real = pipeline._append_dedup
    raised_in = []

    def fail_deliverywise(spark, df, path, keys):
        if path.endswith("silver_deliverywise"):
            raised_in.append(threading.current_thread())
            raise _Crash
        return real(spark, df, path, keys)

    ledger = VersionedTable(spark, f"{failed}/state/file_status")
    version = ledger.current_version()
    n_threads = threading.active_count()
    monkeypatch.setattr(pipeline, "_append_dedup", fail_deliverywise)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(_Crash):
            _cycle(spark, landing, failed)
        monkeypatch.undo()
        assert len(raised_in) == 1
        assert raised_in[0] is not threading.main_thread()
        assert ledger.current_version() == version
        assert threading.active_count() == n_threads

        assert _cycle(spark, landing, failed).n_new_files == 3
    # PySpark's collect() leaves its result socket to the garbage
    # collector, a ResourceWarning the serial cycle raised as well.
    assert [
        str(w.message)
        for w in caught
        if not issubclass(w.category, ResourceWarning)
    ] == []
    assert _cycle_outcome(spark, failed) == want


def test_candidate_listing_filters_non_json(spark, landing, tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "1.json").write_text("{}")
    (d / "readme.txt").write_text("x")
    assert list_candidate_files(str(d)) == ["1.json"]


def test_corrupt_file_excluded_but_ledger_marked(spark, tmp_path):
    """A malformed JSON file must not poison either table, must be
    counted as corrupt, and must be ledger-marked so it is never
    retried (the reference's per-file Lambda would crash-loop)."""
    import json

    from kaggle_data_pipeline_with_aws_spark.operators.ledger import (
        read_ledger,
    )
    from kaggle_data_pipeline_with_aws_spark.pipeline import run_incremental
    from cricket_fixtures import write_fixture_dir

    landing = str(tmp_path / "landing")
    write_fixture_dir(landing, n_matches=3, seed=5)
    with open(f"{landing}/999999.json", "w") as f:
        f.write("{ not valid json at all")

    result = run_incremental(
        spark,
        landing,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        max_files_per_cycle=10,
    )
    assert result.n_new_files == 4
    assert result.n_corrupt == 1
    assert result.matchwise.count() == 3  # corrupt row excluded
    assert (
        result.matchwise.filter("match_id = 999999").count() == 0
    )
    ledger = read_ledger(spark, str(tmp_path / "state"))
    marked = ledger.filter("file_name = '999999.json'").collect()
    assert len(marked) == 1  # never retried

    # second cycle: nothing new, nothing corrupt, same outputs
    result2 = run_incremental(
        spark,
        landing,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
    )
    assert result2.n_new_files == 0
    assert result2.n_corrupt == 0
    assert result2.matchwise.count() == 3


def test_published_csv_golden_format(spark, tmp_path, landing):
    """Byte-level publish parity with the reference artifact
    (matchwise_data.csv): exact 17-column header in order, one CSV
    object (single_file mode), rows globally ordered with contiguous
    match_number from 1, nulls as empty fields, floats with a decimal
    point — the conventions pandas to_csv used (convert...py:63-75)."""
    import csv as csvmod
    import glob

    run_incremental(
        spark,
        landing,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        max_files_per_cycle=20,
        single_file_csv=True,
    )
    parts = glob.glob(str(tmp_path / "out/matchwise_data/part-*.csv"))
    assert len(parts) == 1  # the reference publishes ONE S3 object
    with open(parts[0], newline="") as f:
        lines = f.read().splitlines()
    header = lines[0]
    assert header == (
        "match_number,match_id,date,event_name,ground_name,ground_city,"
        "team_1,team_2,toss_winner,toss_decision,team_1_total_runs,"
        "team_2_total_runs,winner,margin_runs,margin_wickets,"
        "winning_method,player_of_the_match"
    )
    rows = list(csvmod.reader(lines[1:]))
    # contiguous 1..N numbering in file order (order IS the artifact)
    assert [r[0] for r in rows] == [str(i) for i in range(1, len(rows) + 1)]
    # dates render ISO yyyy-mm-dd like the reference CSV
    assert all(len(r[2]) == 10 and r[2][4] == "-" for r in rows)
    # margin columns: empty when absent, decimal-pointed when present
    margins = [r[13] for r in rows] + [r[14] for r in rows]
    assert any(m == "" for m in margins)
    assert all(m == "" or "." in m for m in margins)


def test_ingest_extract_zip_lands_only_json(spark, tmp_path):
    """S1/S2: archive extraction keeps only *.json members, flattens
    nested paths, and lands files the schema'd scan can read."""
    import json as jsonmod
    import zipfile

    from kaggle_data_pipeline_with_aws_spark.ingest import extract_zip
    from cricket_fixtures import write_fixture_dir

    src = tmp_path / "src"
    write_fixture_dir(str(src), n_matches=3, seed=7)
    zip_path = str(tmp_path / "t20s.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for name in sorted(os.listdir(src)):
            zf.write(os.path.join(src, name), f"nested/dir/{name}")
        zf.writestr("README.txt", "not data")
        zf.writestr("nested/notes.csv", "a,b")

    landing = str(tmp_path / "landing")
    landed = extract_zip(zip_path, landing)
    assert landed == sorted(n for n in os.listdir(src) if n.endswith(".json"))
    assert sorted(os.listdir(landing)) == landed  # staging dir cleaned up

    raw = read_json_documents(spark, landing, CRICSHEET_MATCH_SCHEMA)
    assert raw.count() == 3
    assert raw.filter(F.col("info").isNotNull()).count() == 3
