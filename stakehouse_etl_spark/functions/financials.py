"""Financial kernel (SURVEY §2.8 F1, §2.5 W6).

Semantics reproduced from the reference's financial utilities
(``src/utils/financials.py:4-34``, constants ``src/utils/constants.py:1-6``):

- ``calc_apr(earnings_gwei, n_epochs)`` annualizes cumulative gwei
  earnings against the 24-ETH dETH principal.
- ``calc_earnings`` / ``calc_losses`` split a balance series into the
  sum of positive / negative adjacent deltas.

Two renderings are provided:

- *Column expressions* (``apr_expr``, ``delta_expr`` + conditional sums)
  — the engine path, evaluated JVM-side inside whole-stage codegen.
- *Plain-Python reference implementations* (``calc_apr_py`` etc.) —
  used only by the property tests (mirroring the reference's
  ``test/utils/financials_test.py:14-64``), never in a Spark plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Constants: reference src/utils/constants.py:1-6.
ONE_GWEI = 10**9
DETH_PRINCIPAL = 24 * 10**18  # 24 ETH in wei
EPOCHS_PER_YEAR = 82179.45
EPOCHS_PER_DAY = 225
EPOCHS_PER_WEEK = 1575
SLOTS_PER_EPOCH = 32


def apr_expr(earnings_gwei: Column, n_epochs: Column) -> Column:
    """F1: APR percent from cumulative gwei earnings over n epochs.

    apr = (earnings * 1e9 / n) / 24e18 * EPOCHS_PER_YEAR * 100
    Guarded: n <= 0 → 0.0 (the reference only calls with n >= 1).
    """
    raw = (
        earnings_gwei
        * F.lit(float(ONE_GWEI))
        / n_epochs
        / F.lit(float(DETH_PRINCIPAL))
        * F.lit(EPOCHS_PER_YEAR)
        * F.lit(100.0)
    )
    return F.when(n_epochs > 0, raw).otherwise(F.lit(0.0))


def calc_apr_py(earnings_gwei: float, n_epochs: int) -> float:
    if n_epochs <= 0:
        return 0.0
    return earnings_gwei * ONE_GWEI / n_epochs / DETH_PRINCIPAL * EPOCHS_PER_YEAR * 100


def calc_earnings_py(balances_desc: list[float]) -> float:
    """W6: sum of positive adjacent deltas of a DESC-ordered balance list."""
    deltas = [
        balances_desc[i] - balances_desc[i + 1] for i in range(len(balances_desc) - 1)
    ]
    return float(sum(d for d in deltas if d > 0))


def calc_losses_py(balances_desc: list[float]) -> float:
    """W6: −(sum of negative adjacent deltas) of a DESC-ordered balance list."""
    deltas = [
        balances_desc[i] - balances_desc[i + 1] for i in range(len(balances_desc) - 1)
    ]
    return float(-sum(d for d in deltas if d < 0))


def gwei_to_eth(col: Column) -> Column:
    """F4: gwei → ETH."""
    return col / F.lit(float(ONE_GWEI))
