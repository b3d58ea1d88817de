"""The four-way routing / data-quality classifier.

Reference predicates F1-F4 (scripts/spark_streaming_consumer.py:254-281,
SURVEY.md §2.3). Two modes (§1.3):

- ``mode="reference"`` — the literal predicates. Notably the valid stream
  does NOT exclude fraud or error rows, so a well-formed fraud row lands
  in both ``valid`` and ``fraud``; and the invalid audit only covers
  ``Is_Fraud == 'No'`` rows.
- ``mode="spec"`` — what requirements.md:5-7 describes: the four streams
  partition the input (valid = well-formed ∧ ¬fraud ∧ ¬error).

``route_flags`` defines the four predicates once. ``route`` filters by
them (four lazy DataFrames over one parent plan); the streaming pipeline
evaluates them as columns of the micro-batch and writes all four sinks
in one pass — unlike the reference, which re-read Kafka once per sink
(§3.1 step 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olap_project_spark.schemas import INVALID_LOG_COLUMNS

INVALID_REASON_DATE = "Invalid Date"
INVALID_REASON_FORMAT = "Data format invalid or missing"


def _has_error() -> Column:
    e = F.col("Errors")
    return e.isNotNull() & (e != "")


def _well_formed() -> Column:
    """F3's structural predicate: ids present, plausible card, positive
    amount, valid date."""
    return (
        F.col("User").isNotNull()
        & F.col("Card").isNotNull()
        & (F.length("Card") >= 16)
        & F.col("Amount_USD").isNotNull()
        & (F.col("Amount_USD") > 0)
        & F.col("is_valid_date")
    )


def route_flags(mode: str = "reference") -> dict[str, Column]:
    """The four sink predicates as boolean columns over a cleaned frame.

    Each flag is coalesced to false, so a row whose predicate is null
    belongs to no sink, exactly as ``filter`` drops it.
    """
    if mode not in ("reference", "spec"):
        raise ValueError(f"unknown routing mode: {mode}")

    is_fraud = F.col("Is_Fraud") == "Yes"
    if mode == "reference":
        valid = _well_formed()
        # The literal reference invalid predicate (:271-278). Note it does
        # NOT test User/Card nullity (a null-Card row is neither valid nor
        # invalid there — null ``length(Card) < 16`` is three-valued-false),
        # and only audits non-fraud rows.
        invalid = (
            ~_has_error()
            & (F.col("Is_Fraud") == "No")
            & (
                F.col("Amount_USD").isNull()
                | (F.col("Amount_USD") <= 0)
                | (F.length("Card") < 16)
                | ~F.col("is_valid_date")
            )
        )
    else:
        valid = _well_formed() & ~is_fraud & ~_has_error()
        invalid = ~_has_error() & ~is_fraud & ~_well_formed()
    flags = {"valid": valid, "fraud": is_fraud, "error": _has_error(), "invalid": invalid}
    return {k: F.coalesce(v, F.lit(False)) for k, v in flags.items()}


def invalid_reason() -> Column:
    """The audit reason of an ``invalid`` row."""
    return F.when(~F.col("is_valid_date"), F.lit(INVALID_REASON_DATE)).otherwise(
        F.lit(INVALID_REASON_FORMAT)
    )


def route(df: DataFrame, mode: str = "reference") -> dict[str, DataFrame]:
    """Split a cleaned DataFrame into valid / fraud / error / invalid.

    Returns a dict of four DataFrames (lazy filters over the shared
    parent — no materialization, no shuffle).
    """
    out = {k: df.filter(flag) for k, flag in route_flags(mode).items()}
    out["invalid"] = out["invalid"].withColumn("invalid_reason", invalid_reason())
    return out


def invalid_log(invalid_df: DataFrame) -> DataFrame:
    """Audit/dead-letter projection (reference :377)."""
    return invalid_df.select(*INVALID_LOG_COLUMNS)
