"""The reference's core computation, re-expressed on DataFrames.

Reference pipeline (pipeline/app.py:44-76 in /root/reference):
  P1  binary->string cast of the Kafka value
  P2  JSON path extraction of the CDC payload          -> here: ``props``
  P3/P4 typed casts + timestamp parse
  P5  null-rejecting filter on the event id
  J1  broadcast LEFT join against the dimension table  (app.py:70)
  D1  engagement_seconds = duration/1000 (NULL-preserving, app.py:71-73)
  D2  engagement_pct     = ROUND(ratio, 2) with NULL if either side NULL
                           (app.py:74-76)

Testdata mapping (FIXTURES.md §5): ``events`` stands in for
``engagement_events`` (``value`` ~ duration_ms, ``props`` ~ raw JSON),
``customer`` for the ``content`` dimension (join on
``events.user_id = customer.c_custkey``); ``c_acctbal`` plays
``length_seconds`` in the pct denominator.

Scale notes: the join side is an explicit ``F.broadcast`` (dimension
tables are small relative to the fact stream, same choice as the
reference); the fact side never shuffles.  All expressions are built-in
Column ops -> whole-stage codegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import round_half_up

# Sink projection, mirroring the 11-column ClickHouse shape
# (reference clickhouse/init.sql:5-22).
ENRICHED_COLUMNS = [
    "event_id",
    "ts",
    "user_id",
    "event_type",
    "value",
    "prop_k",
    "c_name",
    "c_mktsegment",
    "c_acctbal",
    "engagement_seconds",
    "engagement_pct",
]


def parse_props(events: DataFrame) -> DataFrame:
    """P2: JSON path extraction (reference uses 7 get_json_object calls,
    app.py:46-52; here one typed extraction of the ``props`` payload)."""
    return events.withColumn(
        "prop_k", F.get_json_object(F.col("props"), "$.k").cast("int")
    )


def dim_from_customer(customer: DataFrame) -> DataFrame:
    """P6: dimension projection + key rename (reference app.py:67-68)."""
    return customer.select(
        F.col("c_custkey").alias("user_id"),
        "c_name",
        "c_mktsegment",
        "c_acctbal",
    )


def with_derived_columns(
    df: DataFrame,
    value_col: str = "value",
    denom_col: str = "c_acctbal",
    pct_scale: float = 100.0,
) -> DataFrame:
    """D1/D2 with the reference's exact NULL semantics.

    The reference computes ``ROUND((duration_ms/1000.0)/length_seconds,
    2)`` (pipeline/app.py:74-76) — that is ``pct_scale = 1/1000`` with
    duration in ``value_col`` and length in ``denom_col``
    (tests/test_reference_smoke.py pins the golden 0.03/0.10 outputs).
    The flagship testdata mapping uses ``pct_scale = 100`` because
    acctbal >> value; NULL propagation + half-up round are identical.
    Guard denom=0 (UUID keys in the reference can't be 0, acctbal can).
    """
    value = F.col(value_col)
    denom = F.col(denom_col)
    engagement_seconds = F.when(value.isNull(), F.lit(None).cast("double")).otherwise(
        (value / F.lit(1000.0)).cast("double")
    )
    engagement_pct = F.when(
        value.isNull() | denom.isNull() | (denom == F.lit(0.0)),
        F.lit(None).cast("double"),
    ).otherwise(round_half_up((F.lit(pct_scale) * value) / denom, 2))
    return df.withColumn("engagement_seconds", engagement_seconds).withColumn(
        "engagement_pct", engagement_pct
    )


def warehouse_typed(df: DataFrame) -> DataFrame:
    """Typed warehouse projection: cast ``engagement_pct`` to
    Decimal(5,2), matching the reference warehouse DDL
    (``Nullable(Decimal(5,2))``, clickhouse/init.sql:14).  The
    reference job emits double (pipeline/app.py:76) and relies on the
    warehouse to coerce on insert; here the cast is explicit at the
    sink boundary so the parquet files carry the declared type —
    closing the last typed-parity delta with the reference's sink
    schema.  NULL passes through (Nullable); the value is already
    half-up-rounded to 2 places, so the cast is exact.  A value the
    type cannot hold (|pct| >= 1000) lands as NULL: a plain cast
    raises NUMERIC_VALUE_OUT_OF_RANGE under ANSI mode, which would
    fail the micro-batch and stop the stream on one outlier event."""
    if "engagement_pct" not in df.columns:
        return df
    return df.withColumn(
        "engagement_pct", F.col("engagement_pct").try_cast("decimal(5,2)")
    )


def enrich_events(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Full enrichment: parse -> filter -> broadcast left join -> derive
    -> sink projection.  Works identically on a batch DataFrame and on
    each ``foreachBatch`` micro-batch (streaming layer reuses it)."""
    parsed = parse_props(events).where(F.col("event_id").isNotNull())  # P5
    dim = dim_from_customer(customer)
    joined = parsed.join(F.broadcast(dim), on="user_id", how="left")  # J1
    return with_derived_columns(joined).select(*ENRICHED_COLUMNS)
