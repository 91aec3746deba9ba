"""Scalar function library (SURVEY §2.8 F2, F5, F7).

All pure column expressions — evaluated JVM-side inside whole-stage
codegen; no Python UDFs. Reference sites cited per function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from stakehouse_etl_spark.functions.financials import SLOTS_PER_EPOCH


# --- F2: epoch <-> slot arithmetic (src/extract_handler.py:109,
#     src/validator_withdrawals_handler.py:54,92) ---
def epoch_end_slot(epoch: Column) -> Column:
    """State at end of epoch lives at slot = epoch*32 − 1."""
    return epoch * SLOTS_PER_EPOCH - 1


def slot_to_epoch(slot: Column) -> Column:
    """epoch = slot // 32 (integer floor division)."""
    return F.floor(slot / SLOTS_PER_EPOCH).cast("long")


# --- F5: conditional scoring bands (src/api_handler.py:470-475,504-509) ---
def health_score(balance_gwei: Column) -> Column:
    """Validator health: <31.75 ETH → 2 (critical), <32 ETH → 1, else 0."""
    return (
        F.when(balance_gwei < 31.75e9, F.lit(2))
        .when(balance_gwei < 32e9, F.lit(1))
        .otherwise(F.lit(0))
    )


def redemption_band(rate: Column) -> Column:
    """Redemption-rate colour band: >1.25 Red, >1.1 Amber, else Green."""
    return (
        F.when(rate > 1.25, F.lit("Red"))
        .when(rate > 1.1, F.lit("Amber"))
        .otherwise(F.lit("Green"))
    )


# --- F7: string ops (src/api_handler.py:594; src/index_validator_handler.py:85,90;
#     src/utils/sqs.py:31-32) ---
def split_transfer_from(value: Column) -> Column:
    """'from-to' transfer-event encoding → from part."""
    return F.split(value, "-").getItem(0)


def split_transfer_to(value: Column) -> Column:
    return F.split(value, "-").getItem(1)


def message_id(col: Column) -> Column:
    """sha256 hex digest (dedup id for message streams)."""
    return F.sha2(col.cast("string"), 256)
