"""Explicit StructType schemas for every table (SURVEY.md §1.2-1.3).

The reference never declares schemas — they are implicit in dict-literal
keys (`extract_matchwise_cricsheet_data_lambda_function.py:58-76`), a
constant column list (`_lambdas/constants.py:19-40`), and defensive
``.get(..., default)`` chains. Here they are declared once: every field
nullable, reproducing the ``.get(..., None)`` semantics; the
``.get(..., 0)`` extras defaults are applied in the flatten select
(operators/flatten.py), not the schema.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw Cricsheet-shaped match document (FIXTURES.md §1): the nested input.
# Structure consumed at extract_matchwise...py:56-98 and
# extract_deliverywise...py:100-202.
# ---------------------------------------------------------------------------

_RUNS = T.StructType(
    [
        T.StructField("batter", T.IntegerType()),
        T.StructField("extras", T.IntegerType()),
        T.StructField("total", T.IntegerType()),
    ]
)

_EXTRAS = T.StructType(
    [
        T.StructField("wides", T.IntegerType()),
        T.StructField("legbyes", T.IntegerType()),
        T.StructField("byes", T.IntegerType()),
        T.StructField("noballs", T.IntegerType()),
        T.StructField("penalty", T.IntegerType()),
    ]
)

_WICKET = T.StructType(
    [
        T.StructField("player_out", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField(
            "fielders",
            T.ArrayType(T.StructType([T.StructField("name", T.StringType())])),
        ),
    ]
)

_DELIVERY = T.StructType(
    [
        T.StructField("batter", T.StringType()),
        T.StructField("bowler", T.StringType()),
        T.StructField("non_striker", T.StringType()),
        T.StructField("runs", _RUNS),
        T.StructField("extras", _EXTRAS),
        T.StructField("wickets", T.ArrayType(_WICKET)),
    ]
)

_OVER = T.StructType(
    [
        T.StructField("over", T.IntegerType()),
        T.StructField("deliveries", T.ArrayType(_DELIVERY)),
    ]
)

_INNING = T.StructType(
    [
        T.StructField("team", T.StringType()),
        T.StructField("overs", T.ArrayType(_OVER)),
    ]
)

_INFO = T.StructType(
    [
        T.StructField("match_type_number", T.IntegerType()),
        T.StructField("dates", T.ArrayType(T.StringType())),
        T.StructField(
            "event", T.StructType([T.StructField("name", T.StringType())])
        ),
        T.StructField("venue", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("teams", T.ArrayType(T.StringType())),
        T.StructField(
            "toss",
            T.StructType(
                [
                    T.StructField("winner", T.StringType()),
                    T.StructField("decision", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "outcome",
            T.StructType(
                [
                    T.StructField("winner", T.StringType()),
                    T.StructField("result", T.StringType()),
                    T.StructField(
                        "by",
                        T.StructType(
                            [
                                T.StructField("runs", T.IntegerType()),
                                T.StructField("wickets", T.IntegerType()),
                            ]
                        ),
                    ),
                    T.StructField("method", T.StringType()),
                ]
            ),
        ),
        T.StructField("player_of_match", T.ArrayType(T.StringType())),
    ]
)

CRICSHEET_MATCH_SCHEMA = T.StructType(
    [
        T.StructField("info", _INFO),
        T.StructField("innings", T.ArrayType(_INNING)),
    ]
)

# ---------------------------------------------------------------------------
# Matchwise table (17 cols; extract_matchwise...py:58-76 + renumber at
# convert_mongo_db_data_to_csv_lambda.py:42-44).
# ---------------------------------------------------------------------------

MATCHWISE_SCHEMA = T.StructType(
    [
        T.StructField("match_number", T.LongType()),
        T.StructField("match_id", T.IntegerType()),
        T.StructField("date", T.StringType()),  # yyyy-MM-dd, as published
        T.StructField("event_name", T.StringType()),
        T.StructField("ground_name", T.StringType()),
        T.StructField("ground_city", T.StringType()),
        T.StructField("team_1", T.StringType()),
        T.StructField("team_2", T.StringType()),
        T.StructField("toss_winner", T.StringType()),
        T.StructField("toss_decision", T.StringType()),
        T.StructField("team_1_total_runs", T.IntegerType()),
        T.StructField("team_2_total_runs", T.IntegerType()),
        T.StructField("winner", T.StringType()),
        T.StructField("margin_runs", T.DoubleType()),
        T.StructField("margin_wickets", T.DoubleType()),
        T.StructField("winning_method", T.StringType()),
        T.StructField("player_of_the_match", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# File-processing ledger (DynamoDB table in the reference:
# aws/mens_t20i_dataset_stack.py:53-62, utils.py:74-89).
# ---------------------------------------------------------------------------

FILE_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("matchwise_data_extraction_status", T.BooleanType()),
        T.StructField("deliverywise_data_extraction_status", T.BooleanType()),
    ]
)
