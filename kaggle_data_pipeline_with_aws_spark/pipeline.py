"""The end-to-end pipeline DAG (SURVEY §3: EP1→EP3 collapsed into one
driver program).

Reference control flow (five Lambdas glued by EventBridge/SQS/S3
events — cron → download → per-file extract ×2 → CSV rebuild → publish)
becomes four explicit stages over shared DataFrames:

    ingest()      land new match JSONs (ledger-gated, ≤N per cycle)
    extract()     ONE scan of the landing zone → matchwise + deliverywise
                  (the reference's two parallel per-file Lambdas, T3,
                  become two projections of the same source DataFrame),
                  each appended to its silver ``VersionedTable``, the
                  two appends side by side, then the ledger commit
    materialize() renumber + enrich + sorted CSV (EP3), beside the ledger
                  commit; the two CSV writes side by side
    publish()     version-notes metadata from the top-1 latest match (K7
                  is Kaggle-API-bound in the reference; here a metadata
                  dict, the engine boundary)

The reference's 5-minute SQS delay (T4) is a race-avoidance hack; the
explicit stage ordering here replaces it (documented behavioral
difference: we always rebuild *after* extraction completes).

Overlap: the reference fans each file out to two Lambdas at once
(``aws/mens_t20i_dataset_stack.py:190-277``); one driver gets the same
by running independent branches in threads of one session
(``session.concurrently``, each branch's jobs under the caller's job
group). Three pairs overlap: the two silver appends; the ledger commit
and the renumber + CSV publish, both started once the two appends have
returned; and the matchwise and deliverywise CSV writes.

Crash safety: the three writes of a cycle are transaction-log commits,
each published atomically. The two silver commits land in either
order, and the ledger commits only after both have. A cycle killed at
any point before the ledger commit leaves its files unledgered, so the
next cycle takes them again; the silver appends drop keys the table
already holds, so the rerun converges to the rows an uninterrupted run
would have written. The CSVs are rewritten from silver every cycle, so
a kill during their write, before or after the ledger commit, is
repaired by the next cycle.

Cost: the weekly cron runs each cycle in a fresh process, so a cycle
pays for every Spark job and plan shape it launches, and at the
weekly scale each job waits on per-job latency, not compute.
Detection is a driver-side set difference over the landing listing;
the cycle builds no DataFrame from a Python list, so it starts no
Python worker; table reads take their schema from the log, so they
run no inference job; the numbered matches are checkpointed once,
then read by both CSVs and the version notes instead of renumbering
three times; and the independent branches above overlap, so their
per-job latencies overlap instead of adding up.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .materialize import (
    deliverywise_published,
    matchwise_numbered,
    write_sorted_csv,
)
from .operators import flatten
from .operators.ledger import detect_new_files, read_ledger, upsert_status
from .operators.txnlog import VersionedTable
from .schemas import CRICSHEET_MATCH_SCHEMA
from .session import concurrently
from .sources.readers import read_json_documents


# The reference's literal template (upload_dataset_to_kaggle_lambda.py:66).
VERSION_NOTES = (
    "Updated till the match between {team_1} and {team_2} on {formatted_date}"
)


@dataclass
class PipelineResult:
    n_new_files: int
    matchwise: DataFrame
    deliverywise: DataFrame
    n_corrupt: int = 0


def list_candidate_files(landing_dir: str) -> list[str]:
    """S2/P4: the *.json file names in the landing zone, sorted (the
    reference walks the extracted zip dir, download...py:88-92)."""
    return sorted(f for f in os.listdir(landing_dir) if f.endswith(".json"))


def run_incremental(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    output_dir: str,
    max_files_per_cycle: int = 10,
    single_file_csv: bool = False,
) -> PipelineResult:
    """One cycle of the weekly pipeline: detect-new → extract both tables
    (side by side) → mark the ledger, beside rematerializing the full
    published dataset. A failure in any branch is re-raised once every
    branch has ended."""
    ledger = read_ledger(spark, state_dir)
    new_names = detect_new_files(
        list_candidate_files(landing_dir), ledger, limit=max_files_per_cycle
    )
    n_corrupt = 0

    if new_names:
        paths = [os.path.join(landing_dir, n) for n in new_names]
        # T3: one scan, two consumers — cache the parsed documents so the
        # matchwise and deliverywise branches don't each re-read the
        # landing zone (multiline-JSON parse of many small files is the
        # dominant extract cost; the parsed batch is bounded by
        # max_files_per_cycle).
        scanned = read_json_documents(
            spark, paths, CRICSHEET_MATCH_SCHEMA
        ).cache()
        # Malformed documents surface as null-struct rows (PERMISSIVE
        # scan) with match_id still derived from the filename: exclude
        # them from both tables but STILL ledger-mark their files below —
        # a permanently-corrupt file must not be retried forever (the
        # reference would crash its per-file Lambda and retry on every
        # cycle). n_corrupt reports them to the caller/notifier; its
        # count is the one job that materialises the cache.
        raw = scanned.filter(F.col("info").isNotNull())
        n_corrupt = scanned.filter(F.col("info").isNull()).count()
        try:
            new_matches = flatten.matchwise(raw)
            new_deliveries = flatten.composite_delivery_key(
                flatten.deliverywise(raw)
            )
            concurrently(
                spark,
                lambda: _append_dedup(
                    spark,
                    new_matches,
                    f"{state_dir}/silver_matchwise",
                    ["match_id"],
                ),
                lambda: _append_dedup(
                    spark,
                    new_deliveries,
                    f"{state_dir}/silver_deliverywise",
                    ["composite_delivery_key"],
                ),
            )
        finally:
            scanned.unpersist()
        # The ledger commits only once both silver commits have returned.
        _, (numbered, published) = concurrently(
            spark,
            lambda: upsert_status(spark, state_dir, new_names),
            lambda: _publish(spark, state_dir, output_dir, single_file_csv),
        )
    else:
        numbered, published = _publish(
            spark, state_dir, output_dir, single_file_csv
        )
    return PipelineResult(
        len(new_names), numbered, published, n_corrupt=n_corrupt
    )


def _publish(
    spark: SparkSession, state_dir: str, output_dir: str, single_file: bool
) -> tuple[DataFrame, DataFrame]:
    """EP3: renumber the silver matches and write both sorted CSVs, side
    by side; returns the numbered matches and the published
    deliveries."""
    matches = VersionedTable(spark, f"{state_dir}/silver_matchwise").snapshot()
    deliveries = VersionedTable(
        spark, f"{state_dir}/silver_deliverywise"
    ).snapshot()

    # One row per match, renumbered once: both CSVs and the caller's
    # version notes read the checkpoint. Its blocks are freed when the
    # result is dropped, where a .cache() would hold them until
    # unpersisted.
    numbered = matchwise_numbered(matches).localCheckpoint()
    published = deliverywise_published(deliveries, numbered)
    concurrently(
        spark,
        lambda: write_sorted_csv(
            numbered,
            f"{output_dir}/matchwise_data",
            ["match_number"],
            single_file=single_file,
        ),
        lambda: write_sorted_csv(
            published,
            f"{output_dir}/deliverywise_data",
            ["match_number", "innings_number", "over_number", "ball_number"],
            single_file=single_file,
        ),
    )
    return numbered, published


def _append_dedup(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> None:
    """K2/K3 + T7: idempotent append — rows whose natural key the table
    already holds are dropped, reproducing Mongo's ``_id``
    conflict-not-duplicate semantics, then the rest is one append
    commit. History is read for its key column only and never
    rewritten."""
    table = VersionedTable(spark, path)
    new = df.dropDuplicates(keys)
    if table.current_version() != -1:
        new = new.join(
            table.snapshot().select(*keys), keys, "left_anti"
        ).select(*df.columns)  # the USING join moves the keys first
    table.commit(new)


def latest_match(matches: DataFrame) -> Row | None:
    """P10/F4: the top-1 latest match by (date desc, match_id desc) —
    the reference's ``iloc[-1]`` of the sorted CSV
    (upload_dataset_to_kaggle_lambda.py:119-129) — with its teams and
    its date as dd/MM/yyyy; None when there are no matches."""
    last = (
        matches.orderBy(F.col("date").desc(), F.col("match_id").desc())
        .limit(1)
        .select(
            "date",
            "team_1",
            "team_2",
            F.date_format(F.to_date("date", "yyyy-MM-dd"), "dd/MM/yyyy").alias(
                "formatted_date"
            ),
        )
        .collect()
    )
    return last[0] if last else None


def version_notes(matches_numbered: DataFrame) -> dict:
    """K7: the Kaggle version notes from the latest match."""
    row = latest_match(matches_numbered)
    if row is None:
        return {"notes": "no matches"}
    return {"notes": VERSION_NOTES.format(**row.asDict())}
