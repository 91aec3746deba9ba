"""Serving layer (SURVEY §3.3): the reference's HTTP endpoints as
parameterized DataFrame queries.

The reference serves ~22 endpoints (serverless.yaml:113-519) by
building f-string SQL + Python loops per request
(``src/api_handler.py``). Here each endpoint is a function
``fn(tables..., params...) -> DataFrame`` over the §1.2 reference-schema
tables; an HTTP edge would ``collect()`` and JSON-wrap the rows with
``to_json(struct(...))`` (K4, see ``k4_json_envelope``). Endpoints that
are one filter over one table (/leaderboard, /validatorAprEpochs,
/indexAPRAverage, the stakehouse membership flags) are a plain
``df.filter`` and get no function here.
Dimension inputs that the reference fetches from subgraphs
per-request (savETH index maps, LP positions, top-ups) arrive as small
DataFrames — broadcast-joined, the J5 pattern.

Schemas used (SURVEY §1.2):

- income:     bls_key, epoch, balance, earnings, losses, apr, epochs_since_active
- daily_apr:  bls_key, dates (date), earnings, losses, apr
- membership: bls_key, epoch, indexes
- index_apr:  indexes, epoch, apr, earnings, losses
- earnings_interface: bls_key, earnings, losses
- slot_withdrawals: validator, slot, amount, withdrawal_index
- threat:     bls_key, dETHBacking, samePosition, dETHBalance
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stakehouse_etl_spark.functions.financials import EPOCHS_PER_WEEK, gwei_to_eth
from stakehouse_etl_spark.functions.scalars import health_score, redemption_band
from stakehouse_etl_spark.operators.joins import latest_per_key
from stakehouse_etl_spark.operators.windows import top_k, top_k_per_group


# --- /validatorEpochWiseApr (src/api_handler.py:58-69) ---
def validator_epoch_apr(income: DataFrame, bls_key: str, epochs: int) -> DataFrame:
    """Last ``epochs`` income rows of one key, newest first (W5)."""
    return (
        income.filter(F.col("bls_key") == bls_key)
        .orderBy(F.desc("epoch"))
        .limit(epochs)
    )


# --- threat monitoring + default fill (src/api_handler.py:86-99,439-440) ---
def threat_with_defaults(threat: DataFrame, keys: DataFrame) -> DataFrame:
    """J10: keys lacking a monitoring row default to (1, 1, 1)."""
    return (
        keys.join(F.broadcast(threat), on="bls_key", how="left")
        .withColumn("dETHBacking", F.coalesce("dETHBacking", F.lit(1.0)))
        .withColumn("samePosition", F.coalesce("samePosition", F.lit(1.0)))
        .withColumn("dETHBalance", F.coalesce("dETHBalance", F.lit(1.0)))
    )


# --- /indexValidators (src/api_handler.py:101-108) ---
def index_validators(membership: DataFrame, index: int) -> DataFrame:
    """Distinct keys currently (latest epoch) in an index."""
    latest = latest_per_key(membership, key="bls_key", order_col="epoch")
    return latest.filter(F.col("indexes") == index).select("bls_key").distinct()


# --- /indexdETHEarned (src/api_handler.py:133-138, J2) ---
def deth_earned_index(income: DataFrame, membership: DataFrame, index: int) -> DataFrame:
    """Σ earnings of the index's members at the members' latest income
    epoch — the three-way nested join rendered as window + join."""
    latest_income = latest_per_key(income, key="bls_key", order_col="epoch")
    latest_member = latest_per_key(membership, key="bls_key", order_col="epoch")
    members = latest_member.filter(F.col("indexes") == index).select("bls_key")
    return (
        latest_income.join(F.broadcast(members), "bls_key", "left_semi")
        .agg(gwei_to_eth(F.sum("earnings")).alias("deth_earned"))
    )


# --- /averageIndexAPR grouped variant (src/api_handler.py:179-194) ---
def indexes_apr_grouped(
    income: DataFrame, membership: DataFrame, indexes: list[int]
) -> DataFrame:
    latest_income = latest_per_key(income, key="bls_key", order_col="epoch")
    latest_member = latest_per_key(membership, key="bls_key", order_col="epoch")
    return (
        latest_income.join(
            F.broadcast(
                latest_member.filter(F.col("indexes").isin(indexes)).select(
                    "bls_key", "indexes"
                )
            ),
            "bls_key",
        )
        .groupBy("indexes")
        .agg(
            F.avg("apr").alias("apr"),
            F.sum("earnings").alias("earnings"),
            F.sum("losses").alias("losses"),
            F.count(F.lit(1)).alias("n_validators"),
        )
    )


# --- /userIncome avg-APR block (src/api_handler.py:204-219) ---
def user_apr_by_epoch(income: DataFrame, bls_keys: list[str], epochs: int) -> DataFrame:
    """AVG(apr) per epoch over the user's keys, last ``epochs`` epochs."""
    sliced = top_k_per_group(
        income.filter(F.col("bls_key").isin(bls_keys)),
        key="bls_key",
        order_col="epoch",
        k=epochs,
    )
    return sliced.groupBy("epoch").agg(F.avg("apr").alias("apr"))


# --- /userIncome earnings snapshot (src/api_handler.py:221-236) ---
def validator_earnings(earnings_interface: DataFrame, bls_keys: list[str]) -> DataFrame:
    return earnings_interface.filter(F.col("bls_key").isin(bls_keys))


# --- /validatorSlotWithdrawals (src/api_handler.py:249-254, O2) ---
def slot_withdrawals_page(
    slot_withdrawals: DataFrame,
    validator: int,
    withdrawal_index_lower: int,
    limit: int,
) -> DataFrame:
    return (
        slot_withdrawals.filter(
            (F.col("validator") == validator)
            & (F.col("withdrawal_index") > withdrawal_index_lower)
        )
        .orderBy(F.asc("withdrawal_index"))
        .limit(limit)
    )


# --- /validatorSlotWithdrawalsLowerSlotUpperSlot (src/api_handler.py:256-261) ---
def slot_withdrawals_range(
    slot_withdrawals: DataFrame, validator: int, slot_lower: int, slot_upper: int
) -> DataFrame:
    return slot_withdrawals.filter(
        (F.col("validator") == validator)
        & F.col("slot").between(slot_lower, slot_upper)
    )


# --- /validatorWithdrawalsLowerSlot bounds (src/api_handler.py:263-270) ---
def slot_withdrawal_bounds(slot_withdrawals: DataFrame, validator: int) -> DataFrame:
    return slot_withdrawals.filter(F.col("validator") == validator).agg(
        F.min("slot").alias("slot_lower"), F.max("slot").alias("slot_upper")
    )


# --- /topIndexes (src/api_handler.py:290-312, W4 × 3) ---
def top_indexes(daily_apr: DataFrame, index_map: DataFrame, k: int = 7) -> dict:
    """Per-index daily aggregates + the three top-7 leaderboards.
    ``index_map``: (bls_key, savETHIndex) broadcast dim (J5)."""
    per_index = (
        daily_apr.join(F.broadcast(index_map), "bls_key")
        .filter(F.col("savETHIndex").isNotNull())
        .groupBy("savETHIndex")
        .agg(
            F.sum("earnings").alias("earningsAbsolute"),
            F.sum("losses").alias("lossesAbsolute"),
            F.avg("apr").alias("aprPerValidator"),
            F.count(F.lit(1)).alias("n_validators"),
        )
    )
    return {
        "top_earnings": top_k(per_index, "earningsAbsolute", k),
        "top_losses": top_k(per_index, "lossesAbsolute", k),
        "top_apr": top_k(per_index, "aprPerValidator", k),
    }


# --- /validatorLSDScore (src/api_handler.py:457-483, F5) ---
def validator_lsd_score(
    income: DataFrame, bls_keys: list[str]
) -> DataFrame:
    """Health score from the latest balance band of each key."""
    latest = latest_per_key(
        income.filter(F.col("bls_key").isin(bls_keys)), key="bls_key", order_col="epoch"
    )
    return latest.select(
        "bls_key", "epoch", "balance", health_score(F.col("balance")).alias("score")
    )


# --- /indexRedemptionRate (src/api_handler.py:484-516, F6) ---
def index_redemption_rate(
    membership: DataFrame,
    income: DataFrame,
    index: int,
    slashing: DataFrame | None = None,
    topups: DataFrame | None = None,
) -> DataFrame:
    """Redemption rate of an index:
    ((24e9·n) + dETH) / ((8e9·n) − max(0, slashing − topups)), banded
    (``src/api_handler.py:480``). ``slashing``/``topups``: optional
    (bls_key, amount) dims."""
    latest_member = latest_per_key(membership, key="bls_key", order_col="epoch")
    members = latest_member.filter(F.col("indexes") == index).select("bls_key")
    latest_income = latest_per_key(income, key="bls_key", order_col="epoch").join(
        F.broadcast(members), "bls_key", "left_semi"
    )
    enriched = latest_income
    for name, dim in (("slash_amt", slashing), ("topup_amt", topups)):
        if dim is not None:
            enriched = enriched.join(
                F.broadcast(dim.withColumnRenamed("amount", name)), "bls_key", "left"
            )
        else:
            enriched = enriched.withColumn(name, F.lit(0.0))
        enriched = enriched.withColumn(name, F.coalesce(name, F.lit(0.0)))
    agg = enriched.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("earnings").alias("deth"),
        F.sum("slash_amt").alias("slashing"),
        F.sum("topup_amt").alias("topups"),
    )
    rate = (24e9 * F.col("n") + F.col("deth")) / (
        8e9 * F.col("n")
        - F.greatest(F.col("slashing") - F.col("topups"), F.lit(0.0))
    )
    return agg.select(
        F.lit(index).alias("indexes"),
        "n",
        rate.alias("redemption_rate"),
        redemption_band(rate).alias("band"),
    )


# --- /userIncome composition (src/api_handler.py:591-652) ---
def user_income(
    income: DataFrame,
    earnings_interface: DataFrame,
    threat: DataFrame,
    bls_keys: list[str],
    epochs: int = EPOCHS_PER_WEEK,
) -> DataFrame:
    """The most complex read path: per-epoch avg APR over the user's
    keys + latest earnings snapshot + threat defaults, joined into one
    per-key summary row (the ratio block is F6 — see
    queries/lifecycle.f6_ratio_block for the oracle-checked kernel)."""
    keys_df = income.sparkSession.createDataFrame(
        [(k,) for k in bls_keys], "bls_key string"
    )
    apr = user_apr_by_epoch(income, bls_keys, epochs).agg(
        F.avg("apr").alias("avg_apr")
    )
    earn = validator_earnings(earnings_interface, bls_keys)
    safe = threat_with_defaults(threat, keys_df)
    return (
        keys_df.join(F.broadcast(earn), "bls_key", "left")
        .join(F.broadcast(safe), "bls_key", "left")
        .crossJoin(F.broadcast(apr))
        .select(
            "bls_key",
            F.coalesce("earnings", F.lit(0.0)).alias("earnings"),
            F.coalesce("losses", F.lit(0.0)).alias("losses"),
            "avg_apr",
            "dETHBacking",
            "samePosition",
            "dETHBalance",
        )
    )


# --- /savETHIndexNames (src/api_handler.py:517-530) ---
def index_names_merged(
    solo: DataFrame, stakers: DataFrame, liquid: DataFrame
) -> DataFrame:
    """Dict-merge-with-override as a join: solo-staker index names,
    overridden by the staker name for every liquid index
    (``solo_stakers[index] = stakers[index]`` loop at
    src/api_handler.py:524-525). All three are small subgraph dims —
    broadcast, no shuffle."""
    liquid_flag = liquid.select("indexes").withColumn("_liquid", F.lit(True))
    st = stakers.select("indexes", F.col("name").alias("_staker_name"))
    return (
        solo.join(F.broadcast(st), "indexes", "left")
        .join(F.broadcast(liquid_flag), "indexes", "left")
        .select(
            "indexes",
            F.when(F.col("_liquid").isNotNull(), F.col("_staker_name"))
            .otherwise(F.col("name"))
            .alias("name"),
        )
    )


# --- /indexLeaderboard (src/api_handler.py:552-589) ---
def index_leaderboard(
    index_apr: DataFrame, membership: DataFrame, validator_indexes: DataFrame
) -> DataFrame:
    """Per-index latest APR + the index's bls keys + the reference's
    inverted validators flag (0 when the index IS in the
    validator-index set, 1 otherwise — src/api_handler.py:576-581)."""
    latest = latest_per_key(index_apr, key="indexes", order_col="epoch")
    latest_members = latest_per_key(membership, key="bls_key", order_col="epoch")
    keys = (
        latest_members.groupBy("indexes")
        .agg(F.sort_array(F.collect_list("bls_key")).alias("bls_keys"))
    )
    vflag = validator_indexes.select("indexes").withColumn("_v", F.lit(True))
    return (
        latest.join(F.broadcast(keys), "indexes", "left")
        .join(F.broadcast(vflag), "indexes", "left")
        .select(
            "indexes",
            "epoch",
            "apr",
            "earnings",
            "losses",
            F.coalesce("bls_keys", F.array().cast("array<string>")).alias(
                "bls_keys"
            ),
            F.when(F.col("_v").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias(
                "validators"
            ),
        )
    )


# --- /userIncome/mev_fees + /userIncome/runner per-key ratio block
#     (src/api_handler.py:715-806) ---
def per_key_ratio_block(
    earnings_interface: DataFrame,
    topups: DataFrame,
    slots: DataFrame | None = None,
    node_runner: bool = False,
) -> DataFrame:
    """The per-key redemption/sETH block shared by the MEV and
    node-runner income endpoints:

    ``redemption = (24 + earnings/1e9) / (8 − losses/1e9 + topup)``;
    MEV: ``sETH = ((24 + earnings/1e9)/8) · slot`` with the slot count
    from the subgraph (src/api_handler.py:745-747); node-runner:
    ``slot = 4 − losses/1e9 + topup`` and a fixed 4-slot sETH
    (src/api_handler.py:791-794). Topups default to 0 (F9)."""
    t = topups.select("bls_key", F.col("topup").alias("_topup"))
    df = earnings_interface.join(F.broadcast(t), "bls_key", "left").withColumn(
        "_topup", F.coalesce("_topup", F.lit(0.0))
    )
    earn_eth = F.lit(24) + gwei_to_eth(F.col("earnings"))
    loss_eth = gwei_to_eth(F.col("losses"))
    redemption = earn_eth / (F.lit(8) - loss_eth + F.col("_topup"))
    if node_runner:
        slot = F.lit(4) - loss_eth + F.col("_topup")
        seth = (earn_eth / 8) * 4
        picked = df
    else:
        s = slots.select("bls_key", F.col("slot").alias("_slot"))
        picked = df.join(F.broadcast(s), "bls_key", "left")
        slot = F.coalesce(F.col("_slot"), F.lit(0.0))
        seth = (earn_eth / 8) * slot
    return picked.select(
        "bls_key",
        redemption.alias("redemption_rate"),
        slot.alias("validator_slot"),
        seth.alias("sETH"),
    )


# --- /lsdWisePerformance (src/api_handler.py:876-906) ---
def lsd_wise_apr(tickers: DataFrame, index_apr: DataFrame) -> DataFrame:
    """Ticker dim left-joined to the latest per-index APR with zero
    defaults for inactive LSDs (the reference's .get(..., 0) loop at
    src/api_handler.py:891-899)."""
    latest = latest_per_key(index_apr, key="indexes", order_col="epoch")
    return tickers.join(F.broadcast(latest), "indexes", "left").select(
        "indexes",
        F.col("ticker").alias("Ticker"),
        F.coalesce("earnings", F.lit(0.0)).alias("Earnings"),
        F.coalesce("apr", F.lit(0.0)).alias("APR"),
    )
