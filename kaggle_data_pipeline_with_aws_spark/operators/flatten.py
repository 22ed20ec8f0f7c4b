"""Nested-document flatten operators (SURVEY §2.7 X1-X3, §2.5 A1, §2.6 W3-W6).

The reference walks each match JSON with three nested Python loops and a
per-ball ``pd.concat`` accumulator
(``extract_deliverywise_cricsheet_data_lambda_function.py:96-202`` —
O(n²) in pandas), and computes per-team totals with another nested loop
(``extract_matchwise_cricsheet_data_lambda_function.py:85-98``). Here
both become pure column expressions over three chained ``posexplode``
lateral views — fully parallel across matches and whole-stage-codegen'd,
no Python in the hot path.

Scale: the unit of parallelism is the match document; explode multiplies
rows within a partition without shuffling. ``matchwise()`` is map-only:
its per-team totals fold the nested arrays in place (``_runs_scored_by``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _zeroed(col: str) -> F.Column:
    """.get(key, 0) semantics (extract_deliverywise...py:159-169)."""
    return F.coalesce(F.col(col), F.lit(0))


def deliverywise(raw: DataFrame) -> DataFrame:
    """Raw match documents → one row per delivery (ball).

    Mirrors the 20-column record of ``_lambdas/constants.py:19-40`` with
    values per ``extract_deliverywise...py:140-202``:

    - innings_number / ball_number: 1-based ordinals (posexplode + 1;
      reference ``enumerate(..., start=1)`` at :102 and :136)
    - over_number: value-carried from the document (:133), not positional
    - bowling_team: the team in info.teams that isn't batting (:104)
    - extras fields default 0 (:159-169); wicket fields null-safe first
      element (:177-179)
    """
    innings = raw.select(
        "match_id",
        F.col("info.teams").alias("teams"),
        F.posexplode("innings").alias("inning_idx", "inning"),
    )
    overs = innings.select(
        "match_id",
        "teams",
        (F.col("inning_idx") + 1).alias("innings_number"),
        F.col("inning.team").alias("batting_team"),
        F.explode("inning.overs").alias("over"),
    )
    balls = overs.select(
        "match_id",
        "teams",
        "innings_number",
        "batting_team",
        F.col("over.over").alias("over_number"),
        F.posexplode("over.deliveries").alias("ball_idx", "ball"),
    )
    first_wicket = F.try_element_at(F.col("ball.wickets"), F.lit(1))
    return balls.select(
        F.col("match_id").cast("int").alias("match_id"),
        F.col("innings_number").cast("int").alias("innings_number"),
        "batting_team",
        # complement-within-pair lookup (J3, extract_deliverywise...py:104):
        # no join — array_except against the batting team.
        F.try_element_at(
            F.array_except(F.col("teams"), F.array(F.col("batting_team"))),
            F.lit(1),
        ).alias("bowling_team"),
        F.col("over_number").cast("int").alias("over_number"),
        (F.col("ball_idx") + 1).cast("int").alias("ball_number"),
        F.col("ball.batter").alias("batter"),
        F.col("ball.bowler").alias("bowler"),
        F.col("ball.non_striker").alias("non_striker"),
        _zeroed("ball.extras.wides").alias("wide_runs"),
        _zeroed("ball.extras.legbyes").alias("leg_bye_runs"),
        _zeroed("ball.extras.byes").alias("bye_runs"),
        _zeroed("ball.extras.noballs").alias("no_ball_runs"),
        _zeroed("ball.extras.penalty").alias("penalty_runs"),
        _zeroed("ball.runs.batter").alias("batsman_runs"),
        _zeroed("ball.runs.extras").alias("extra_runs"),
        _zeroed("ball.runs.total").alias("total_runs"),
        first_wicket.getField("player_out").alias("player_dismissed"),
        first_wicket.getField("kind").alias("dismissal_type"),
        F.try_element_at(first_wicket.getField("fielders"), F.lit(1))
        .getField("name")
        .alias("fielder_name"),
    )


def composite_delivery_key(deliveries: DataFrame) -> DataFrame:
    """F13: the stringified natural key (extract_deliverywise...py:76-78).

    Kept as a concat_ws string for sink idempotency (the reference's Mongo
    ``_id``); dropped before publishing (convert...py:52).
    """
    return deliveries.withColumn(
        "composite_delivery_key",
        F.concat_ws(
            "-", "match_id", "innings_number", "over_number", "ball_number"
        ),
    )


def _runs_scored_by(team: F.Column) -> F.Column:
    """Total runs scored by ``team`` in a match, computed entirely inside
    the nested document (extract_matchwise...py:85-98) — filter the
    innings array to that team, flatten overs→deliveries, fold the run
    totals. Higher-order functions only: no explode, no join, no shuffle.
    """
    team_innings = F.filter(F.col("innings"), lambda i: i["team"] == team)
    deliveries = F.flatten(
        F.flatten(
            F.transform(
                team_innings,
                lambda i: F.transform(i["overs"], lambda o: o["deliveries"]),
            )
        )
    )
    return F.aggregate(
        deliveries,
        F.lit(0),
        lambda acc, d: acc + F.coalesce(d["runs"]["total"], F.lit(0)),
    ).cast("int")


def matchwise(raw: DataFrame) -> DataFrame:
    """Raw match documents → one flat 16-column row per match (the 17th,
    ``match_number``, is assigned at materialization; SURVEY §1.3).

    Field-for-field the dict literal of extract_matchwise...py:58-76,
    as null-safe nested column references (F6-F10). Per-team totals
    (:69-70) are folded from the nested arrays in the same projection —
    the whole table is one narrow map-only stage.
    """
    return raw.select(
        F.col("match_id").cast("int").alias("match_id"),
        F.try_element_at("info.dates", F.lit(1)).alias("date"),
        F.col("info.event.name").alias("event_name"),
        F.col("info.venue").alias("ground_name"),
        F.col("info.city").alias("ground_city"),
        F.try_element_at("info.teams", F.lit(1)).alias("team_1"),
        F.try_element_at("info.teams", F.lit(2)).alias("team_2"),
        F.col("info.toss.winner").alias("toss_winner"),
        F.col("info.toss.decision").alias("toss_decision"),
        _runs_scored_by(F.try_element_at("info.teams", F.lit(1))).alias(
            "team_1_total_runs"
        ),
        _runs_scored_by(F.try_element_at("info.teams", F.lit(2))).alias(
            "team_2_total_runs"
        ),
        # winner = outcome.winner or outcome.result (:71)
        F.coalesce("info.outcome.winner", "info.outcome.result").alias("winner"),
        F.col("info.outcome.by.runs").cast("double").alias("margin_runs"),
        F.col("info.outcome.by.wickets").cast("double").alias("margin_wickets"),
        F.col("info.outcome.method").alias("winning_method"),
        F.try_element_at("info.player_of_match", F.lit(1)).alias("player_of_the_match"),
    )
