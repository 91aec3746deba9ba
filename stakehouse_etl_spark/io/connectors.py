"""External-source connectors (SURVEY §2.1 S1–S4, S6).

The reference ingests from three external systems: a beacon-chain
archive node (REST), protocol subgraphs (GraphQL), and mevwatch
(REST). Each connector here is split into

- a *transport*: ``Callable[[str], dict]`` that fetches a URL/query →
  parsed JSON. The default transport is gated behind an import-try on
  ``urllib`` usage and NOT exercised in tests — the container has no
  network. Callers inject a fake transport (tests do) or a real one
  (deployments do).
- a *normalizer*: pure function JSON payload(s) → typed ``DataFrame``
  with an explicit schema — this is the part that must be correct and
  is fully tested.

The reference equivalents, cited per function:

- S1 beacon validator-balances scan: ``src/extract_handler.py:109-127``
  + ``src/utils/archive.py:10-17`` — GET
  ``/eth/v1/beacon/states/{slot}/validators`` → (pubkey, epoch, balance).
- S2 block-withdrawals scan: ``src/utils/archive.py:19-33`` +
  ``src/validator_withdrawals_handler.py:59-74`` — GET
  ``/eth/v2/beacon/blocks/{slot}`` → execution_payload.withdrawals[]
  (404 → no block → None).
- S3 finality probe: ``src/extract_handler.py:139-149`` — GET
  ``/eth/v1/beacon/states/head/finality_checkpoints`` → finalized epoch.
- S4 subgraph entity scans: ``src/utils/subgraph.py`` (17 GraphQL
  queries) — entity lists with attributes → small dimension DataFrames.

At scale: one driver-side fetch per *epoch* (not per validator — the
reference batches keys into one request the same way,
``src/extract_handler.py:109-112``), then ``spark.createDataFrame`` →
the rows become an ordinary distributed input. Bulk history loads
should land in Parquet first; these connectors are for the incremental
head, which is small by construction (T2 bounds it).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from stakehouse_etl_spark.functions.scalars import epoch_end_slot, slot_to_epoch

Transport = Callable[[str], dict]

BALANCE_SCHEMA = StructType(
    [
        StructField("bls_key", StringType(), False),
        StructField("epoch", LongType(), False),
        StructField("balance", LongType(), False),
    ]
)

_RAW_VALIDATOR_SCHEMA = StructType(
    [
        StructField("index", StringType()),
        StructField("balance", StringType()),
        StructField(
            "validator",
            StructType(
                [
                    StructField("pubkey", StringType()),
                    StructField("activation_epoch", StringType()),
                ]
            ),
        ),
    ]
)

_RAW_WITHDRAWAL_SCHEMA = StructType(
    [
        StructField("index", StringType()),
        StructField("validator_index", StringType()),
        StructField("address", StringType()),
        StructField("amount", StringType()),
    ]
)

SLOT_WITHDRAWAL_SCHEMA = StructType(
    [
        StructField("validator", LongType(), False),
        StructField("slot", LongType(), False),
        StructField("amount", LongType(), False),
        StructField("withdrawal_index", LongType(), False),
        StructField("withdrawal_recipient", StringType(), True),
    ]
)


def fetch_validator_balances(
    spark: SparkSession,
    transport: Transport,
    base_url: str,
    epochs: Iterable[int],
    bls_keys: list[str] | None = None,
) -> DataFrame:
    """S1: per-validator balance at each epoch end.

    One request per epoch (state at ``slot = epoch*32 − 1``), all keys
    batched into the request exactly like the reference
    (``src/extract_handler.py:109-112``); the JSON payloads are
    normalized JVM-side from one json-lines DataFrame.
    """
    payloads = []
    for epoch in epochs:
        slot = epoch * 32 - 1
        url = f"{base_url}/eth/v1/beacon/states/{slot}/validators"
        if bls_keys:
            url += "?id=" + ",".join(bls_keys)
        body = transport(url)
        if body is None:  # missed/empty state
            continue
        payloads.append({"epoch": epoch, "data": body.get("data", [])})
    if not payloads:
        return spark.createDataFrame([], BALANCE_SCHEMA)

    raw = spark.createDataFrame(
        [(p["epoch"], json.dumps(p["data"])) for p in payloads],
        "epoch long, data string",
    )
    rows = raw.select(
        "epoch",
        F.explode(
            F.from_json("data", ArrayType(_RAW_VALIDATOR_SCHEMA))
        ).alias("v"),
    )
    return rows.select(
        F.col("v.validator.pubkey").alias("bls_key"),
        "epoch",
        F.col("v.balance").cast("long").alias("balance"),
    )


def fetch_block_withdrawals(
    spark: SparkSession,
    transport: Transport,
    base_url: str,
    slots: Iterable[int],
) -> DataFrame:
    """S2: execution-payload withdrawals per slot; missed slots (the
    reference's 404 → None, ``src/utils/archive.py:28-31``) produce no
    rows. Amounts stay integral gwei."""
    payloads = []
    for slot in slots:
        body = transport(f"{base_url}/eth/v2/beacon/blocks/{slot}")
        if body is None:
            continue
        wds = (
            body.get("data", {})
            .get("message", {})
            .get("body", {})
            .get("execution_payload", {})
            .get("withdrawals", [])
        )
        payloads.append({"slot": slot, "withdrawals": wds})
    if not payloads:
        return spark.createDataFrame([], SLOT_WITHDRAWAL_SCHEMA)

    raw = spark.createDataFrame(
        [(p["slot"], json.dumps(p["withdrawals"])) for p in payloads],
        "slot long, withdrawals string",
    )
    rows = raw.select(
        "slot",
        F.explode(
            F.from_json("withdrawals", ArrayType(_RAW_WITHDRAWAL_SCHEMA))
        ).alias("w"),
    )
    return rows.select(
        F.col("w.validator_index").cast("long").alias("validator"),
        "slot",
        F.col("w.amount").cast("long").alias("amount"),
        F.col("w.index").cast("long").alias("withdrawal_index"),
        F.col("w.address").alias("withdrawal_recipient"),
    )


def fetch_finalized_epoch(transport: Transport, base_url: str) -> int | None:
    """S3: the finality probe driving every incremental loop
    (``src/extract_handler.py:139-149``). Scalar — no DataFrame."""
    body = transport(f"{base_url}/eth/v1/beacon/states/head/finality_checkpoints")
    if body is None:
        return None
    try:
        return int(body["data"]["finalized"]["epoch"])
    except (KeyError, TypeError, ValueError):
        return None


def fetch_subgraph_entities(
    spark: SparkSession,
    transport: Transport,
    url: str,
    query: str,
    entity: str,
    schema: StructType | str,
    page_size: int = 1000,
    id_field: str = "id",
) -> DataFrame:
    """S4: GraphQL entity scan → dimension DataFrame.

    Unlike the reference (hard ``first:1000`` cap, unpaginated —
    ``src/utils/subgraph.py:18`` and the TODO at
    ``back-fillers/utils/subgraph.py:14``), this paginates on
    ``id_gt`` cursors until exhaustion, removing the 1000-entity scale
    ceiling (BASELINE.md). Transport receives the full POST body as a
    JSON string appended to the URL fragment for injectability.
    """
    rows: list[dict] = []
    cursor = ""
    while True:
        q = query.replace("$first", str(page_size)).replace("$cursor", cursor)
        body = transport(url + "#" + json.dumps({"query": q}))
        if body is None:
            break
        page = body.get("data", {}).get(entity, [])
        rows.extend(page)
        if len(page) < page_size:
            break
        cursor = str(page[-1].get(id_field, ""))
        if not cursor:
            break
    if not rows:
        return spark.createDataFrame([], schema)
    raw = spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    return raw.select(F.from_json("value", schema).alias("e")).select("e.*")


def slot_withdrawals_to_epoch(
    slot_withdrawals: DataFrame, key_index: DataFrame
) -> DataFrame:
    """S2 → §1.2 ``Validator_Withdrawals`` bridge: per-slot rows keyed
    by consensus index become per-(bls_key, epoch) amounts via the
    bls→index dim (``src/validator_withdrawals_handler.py:85-103``)."""
    return (
        slot_withdrawals.withColumn("epoch", slot_to_epoch(F.col("slot")))
        .join(F.broadcast(key_index), on="validator", how="inner")
        .groupBy("bls_key", "epoch")
        .agg(
            F.sum("amount").alias("values_withdrawals"),
            F.max_by("withdrawal_recipient", "withdrawal_index").alias(
                "withdrawal_recipient"
            ),
        )
    )


PERFORMANCE_SCHEMA = StructType(
    [
        StructField("validator", LongType(), False),
        StructField("performance_total", LongType(), False),
    ]
)


def fetch_validator_performance(
    spark: SparkSession,
    transport: Transport,
    base_url: str,
    validator_indices: Iterable[int],
) -> DataFrame:
    """Independent-source rewards probe: the external cross-check the
    reference's reconciliation script reads
    (``scripts/check-sweeps.js:72-84`` — GET
    ``/api/v1/validator/{indices}/performance``; indices batched
    comma-joined into ONE request, ``check-sweeps.js:104-112``).
    Feeds :mod:`operators.reconcile` as the source-of-truth side."""
    idx_list = list(validator_indices)
    if not idx_list:
        return spark.createDataFrame([], PERFORMANCE_SCHEMA)
    url = f"{base_url}/api/v1/validator/{','.join(map(str, idx_list))}/performance"
    body = transport(url)
    data = (body or {}).get("data", [])
    if not data:
        return spark.createDataFrame([], PERFORMANCE_SCHEMA)
    raw = spark.createDataFrame([(json.dumps(r),) for r in data], "value string")
    parsed = StructType(
        [
            StructField("validatorindex", StringType()),
            StructField("performancetotal", StringType()),
        ]
    )
    return raw.select(F.from_json("value", parsed).alias("p")).select(
        F.col("p.validatorindex").cast("long").alias("validator"),
        F.col("p.performancetotal").cast("long").alias("performance_total"),
    )


MEV_BLOCK_STATS_SCHEMA = StructType(
    [
        StructField("start_ts", LongType(), False),
        StructField("end_ts", LongType(), False),
        StructField("total_blocks", LongType(), True),
        StructField("censored_blocks", LongType(), True),
        StructField("censored_pct", StringType(), True),
    ]
)


def fetch_mev_block_stats(
    spark: SparkSession,
    transport: Transport,
    start_ts: int,
    end_ts: int,
    base_url: str = "https://www.mevwatch.info",
) -> DataFrame:
    """S6: mevwatch blockStats normalizer. The reference passes the
    response through verbatim (``src/api_handler.py:533-550`` POSTs
    ``{startTime, endTime}`` to ``/api/blockStats`` and returns the
    raw text); here the payload lands as ONE typed row so it can join
    warehouse tables. POST body travels in the URL fragment, same
    injection convention as the subgraph transport."""
    body = transport(
        f"{base_url}/api/blockStats#"
        + json.dumps({"startTime": int(start_ts), "endTime": int(end_ts)})
    )
    if body is None:
        return spark.createDataFrame([], MEV_BLOCK_STATS_SCHEMA)
    row = (
        int(start_ts),
        int(end_ts),
        int(body["totalBlocks"]) if body.get("totalBlocks") is not None else None,
        int(body["censoredBlocks"])
        if body.get("censoredBlocks") is not None
        else None,
        str(body["censoredPct"]) if body.get("censoredPct") is not None else None,
    )
    return spark.createDataFrame([row], MEV_BLOCK_STATS_SCHEMA)


# 32 ETH in gwei — the reference's eligibility constant, inlined at
# src/api_handler.py:863 as the string '32000000000'.
PON_ELIGIBLE_BALANCE_GWEI = 32_000_000_000


def fetch_pon_eligibility(
    spark: SparkSession,
    transport: Transport,
    bls_keys: list[str],
    base_url: str = "http://beacon:5052",
) -> DataFrame:
    """S7: the /ponBlsKey passthrough (reference
    ``src/api_handler.py:852-867`` + ``serverless.yaml:480-485``): GET
    the beacon validator state for a BLS key; the validator is PoN
    "Eligible" iff ``effective_balance == 32000000000`` gwei and not
    slashed. The reference serves ONE key per HTTP request and
    compares strings in Python; here the fetched states land as typed
    rows and the rule is a column expression — the single-key endpoint
    is the limit case of a batch eligibility sweep, and downstream
    queries can join ``eligible`` against warehouse tables instead of
    re-calling the endpoint per key."""
    rows = []
    for key in bls_keys:
        body = transport(
            f"{base_url}/eth/v1/beacon/states/head/validators/{key}"
        )
        v = ((body or {}).get("data") or {}).get("validator") or {}
        eb = v.get("effective_balance")
        rows.append(
            (
                key,
                int(eb) if eb is not None else None,
                bool(v["slashed"]) if "slashed" in v else None,
            )
        )
    fetched = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("bls_key", StringType(), False),
                StructField("effective_balance", LongType(), True),
                StructField("slashed", BooleanType(), True),
            ]
        ),
    )
    eligible = (
        (F.col("effective_balance") == F.lit(PON_ELIGIBLE_BALANCE_GWEI))
        & ~F.col("slashed")
    )
    return fetched.select(
        "bls_key",
        "effective_balance",
        "slashed",
        F.when(
            F.col("effective_balance").isNull() | F.col("slashed").isNull(),
            F.lit(None).cast("boolean"),
        )
        .otherwise(eligible)
        .alias("eligible"),
    )


def default_transport(url: str) -> dict:  # pragma: no cover - needs network
    """Real HTTP transport (deployments only; never used in tests)."""
    import urllib.request

    if "#" in url:  # subgraph POST body encoded in fragment
        target, frag = url.split("#", 1)
        req = urllib.request.Request(
            target, data=frag.encode(), headers={"Content-Type": "application/json"}
        )
    else:
        req = urllib.request.Request(url)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())
    except Exception:
        return None


__all__ = [
    "Transport",
    "BALANCE_SCHEMA",
    "SLOT_WITHDRAWAL_SCHEMA",
    "PERFORMANCE_SCHEMA",
    "MEV_BLOCK_STATS_SCHEMA",
    "fetch_validator_balances",
    "fetch_block_withdrawals",
    "fetch_finalized_epoch",
    "fetch_subgraph_entities",
    "fetch_validator_performance",
    "fetch_mev_block_stats",
    "fetch_pon_eligibility",
    "PON_ELIGIBLE_BALANCE_GWEI",
    "slot_withdrawals_to_epoch",
    "default_transport",
    "epoch_end_slot",
]
