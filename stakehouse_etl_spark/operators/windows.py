"""Window / sequential operators (SURVEY §2.5 W1–W5).

The reference implements all of these as per-key Python loops over
DESC-ordered MySQL rows (one loop per validator, one SELECT per key —
O(keys) round-trips). Here each one is a single window over a
key-partitioned, epoch-ordered DataFrame: one shuffle on the key,
then sequential evaluation inside each partition, for *all* keys at
once. At 100 TB the shuffle partitions by ``key`` (high cardinality →
even distribution), and the window never materializes more than a
partition.

Reference semantics cited per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from stakehouse_etl_spark.functions.financials import EPOCHS_PER_WEEK, apr_expr


def _w(key: str | list[str], order: str) -> WindowSpec:
    keys = [key] if isinstance(key, str) else key
    return Window.partitionBy(*keys).orderBy(order)


def cumulative_income(
    balances: DataFrame,
    withdrawals: DataFrame | None = None,
    key: str = "bls_key",
    time: str = "epoch",
    balance: str = "balance",
    withdrawal_amount: str = "values_withdrawals",
    seed: DataFrame | None = None,
    activation_epochs: DataFrame | None = None,
    stop_at_gap: bool = True,
    compute_apr: bool = True,
    money_scale: int | None = None,
) -> DataFrame:
    """W1 (+W2): adjacent-epoch deltas → cumulative earnings / losses / APR.

    Reference: ``src/validator_income_handler.py:103-133`` (resume
    variant seeded from stored cumulative state) and ``:138-168``
    (bootstrap variant seeded from chain ``activation_epoch``). Per
    epoch step::

        delta     = balance[i] + withdrawal[i] - balance[i-1]
        earnings += max(0, delta)
        losses   -= min(0, delta)
        epochs_since_active += 1
        apr       = calc_apr(earnings, epochs_since_active)

    (the reference iterates ``balance[i+1] - balance[i]`` with the
    withdrawal credited to the later epoch; expressed here as a
    ``lag``.) The first observed epoch of a key produces no delta.

    ``seed``: optional ``(key, seed_epoch, seed_earnings, seed_losses,
    seed_epochs_since_active)`` DataFrame — prior cumulative state (T3
    resume path). Rows at or before ``seed_epoch`` are dropped and the
    cumulative sums start from the seeded totals.

    ``activation_epochs``: optional ``(key, activation_epoch)`` — for
    bootstrap keys, ``epochs_since_active`` starts from
    ``first_epoch − activation_epoch`` (reference ``:141``).

    ``stop_at_gap``: W2 — a hole in the epoch sequence
    (``epoch[i] − epoch[i−1] > 1``) means upstream extraction is behind
    ("Backfiller Needed", ``:109-111``); rows at/after the first gap of
    a key are excluded until a backfill fills the hole.

    ``money_scale``: when set (e.g. 100 for 2-decimal amounts), the
    per-step deltas are rounded to ``delta*scale`` integers and the
    cumulative sums run over exact longs — bit-identical under any
    evaluation order / engine (floating cumsums differ between running
    totals and segment-tree window implementations).

    Scale note: one hash shuffle on ``key``; cumulative sums are
    running aggregates inside the sorted partition (no O(n²) frames).
    """
    w = _w(key, time)
    cum = Window.partitionBy(key).orderBy(time).rowsBetween(
        Window.unboundedPreceding, 0
    )

    df = balances
    if withdrawals is not None:
        wd = withdrawals.groupBy(key, time).agg(
            F.sum(withdrawal_amount).alias("__wd")
        )
        df = df.join(wd, on=[key, time], how="left")
    else:
        df = df.withColumn("__wd", F.lit(None).cast("double"))

    if seed is not None:
        # Keep the seed-epoch row itself through the window computation:
        # it is the lag base for the first new delta (the reference reads
        # balances from last_epoch INCLUSIVE for the same reason,
        # src/validator_income_handler.py:72-79). It is dropped from the
        # output at the end.
        df = df.join(seed, on=key, how="left").filter(
            F.col("seed_epoch").isNull() | (F.col(time) >= F.col("seed_epoch"))
        )
    else:
        df = (
            df.withColumn("seed_epoch", F.lit(None).cast("long"))
            .withColumn("seed_earnings", F.lit(None).cast("double"))
            .withColumn("seed_losses", F.lit(None).cast("double"))
            .withColumn("seed_epochs_since_active", F.lit(None).cast("double"))
        )

    prev_balance = F.lag(balance).over(w)
    # The resume path has no in-range predecessor row for the first new
    # epoch; the reference reads the prior balance implicitly via the
    # stored cumulative state. We treat the first in-range row of a
    # seeded key as delta-less too (its contribution was accumulated in
    # the seed) — identical totals, no double count.
    delta = F.col(balance) + F.coalesce(F.col("__wd"), F.lit(0.0)) - prev_balance

    if money_scale is not None:
        delta = F.round(delta * money_scale).cast("long")
    df = df.withColumn("__delta", delta)

    if stop_at_gap:
        gap = (F.col(time) - F.lag(time).over(w)) > 1
        first_gap = F.min(F.when(gap, F.col(time))).over(Window.partitionBy(key))
        df = df.withColumn("__first_gap", first_gap).filter(
            F.col("__first_gap").isNull() | (F.col(time) < F.col("__first_gap"))
        )

    pos_cum = F.coalesce(
        F.sum(F.when(F.col("__delta") > 0, F.col("__delta"))).over(cum), F.lit(0)
    )
    neg_cum = F.coalesce(
        F.sum(F.when(F.col("__delta") < 0, F.col("__delta"))).over(cum), F.lit(0)
    )
    if money_scale is not None:
        # Fold the seed into the INTEGER domain before the single final
        # division: seed_earnings is itself an exact multiple of
        # 1/money_scale (it was produced by this same path), so
        # round(seed*scale) recovers its integer form losslessly and
        # (seed_units + cum_units) / scale is bit-identical to a full
        # single-shot recompute — the incremental==batch contract.
        seed_e = F.coalesce(
            F.round(F.col("seed_earnings") * money_scale).cast("long"), F.lit(0)
        )
        seed_l = F.coalesce(
            F.round(F.col("seed_losses") * money_scale).cast("long"), F.lit(0)
        )
        earnings = (seed_e + pos_cum) / float(money_scale)
        losses = (seed_l - neg_cum) / float(money_scale)
    else:
        earnings = F.coalesce(F.col("seed_earnings"), F.lit(0.0)) + pos_cum
        losses = F.coalesce(F.col("seed_losses"), F.lit(0.0)) - neg_cum

    if activation_epochs is not None:
        first_epoch = F.min(time).over(Window.partitionBy(key))
        df = df.join(activation_epochs, on=key, how="left")
        boot_base = F.coalesce(first_epoch - F.col("activation_epoch"), F.lit(0.0))
    else:
        boot_base = F.lit(0.0)

    # Seeded keys: the seed row is rn=1 and carries seed_n itself, so
    # row i has n = seed_n + (rn − 1). Bootstrap keys: first row has
    # n = boot_base (epochs since chain activation, reference :141).
    rn = F.row_number().over(w)
    n_epochs = F.when(
        F.col("seed_epochs_since_active").isNotNull(),
        F.col("seed_epochs_since_active") + rn - 1,
    ).otherwise(boot_base + rn - 1)

    if seed is not None:
        df = df.withColumn("__n", n_epochs).filter(
            F.col("seed_epoch").isNull() | (F.col(time) > F.col("seed_epoch"))
        )
        n_epochs = F.col("__n")

    out = df.select(
        key,
        time,
        F.col(balance).alias(balance),
        earnings.alias("earnings"),
        losses.alias("losses"),
        n_epochs.cast("double").alias("epochs_since_active"),
    )
    if compute_apr:
        out = out.withColumn("apr", apr_expr(F.col("earnings"), F.col("epochs_since_active")))
    return out


def gap_flags(df: DataFrame, key: str = "bls_key", time: str = "epoch") -> DataFrame:
    """W2 standalone: flag rows whose predecessor is more than one epoch
    behind, and the first gap position per key.

    Reference: ``src/validator_income_handler.py:109-111`` raises
    "Backfiller Needed" and abandons the key for the run.
    """
    w = _w(key, time)
    gap = (F.col(time) - F.lag(time).over(w)) > 1
    return df.withColumn("is_gap", F.coalesce(gap, F.lit(False))).withColumn(
        "first_gap_at",
        F.min(F.when(gap, F.col(time))).over(Window.partitionBy(key)),
    )


def truncate_at_gap(df: DataFrame, key: str = "bls_key", time: str = "epoch") -> DataFrame:
    """W2: drop rows at/after the first sequence gap of each key."""
    flagged = gap_flags(df, key, time)
    return (
        flagged.filter(
            F.col("first_gap_at").isNull() | (F.col(time) < F.col("first_gap_at"))
        )
        .drop("is_gap", "first_gap_at")
    )


def spike_filter(
    df: DataFrame,
    key: str = "indexes",
    time: str = "epoch",
    value: str = "apr",
    threshold: float = 0.10,
) -> DataFrame:
    """W3: drop isolated spikes — rows whose value differs from BOTH
    ordered neighbours by more than ``threshold`` (relative).

    Reference: ``src/index_epoch_apr_handler.py:86-94``. (The reference
    pops from the list it is iterating, so its indices shift — a known
    bug; this implements the documented *intent* with lag/lead, per
    SURVEY W3.) Interior rows only: boundary rows have one neighbour
    and are kept.
    """
    w = _w(key, time)
    prev_v, next_v = F.lag(value).over(w), F.lead(value).over(w)
    # Null denominator when the neighbour is 0 (a zero neighbour has no
    # defined relative diff → not a spike); also keeps ANSI mode from
    # raising DIVIDE_BY_ZERO.
    rel_prev = F.abs(F.col(value) - prev_v) / F.when(prev_v != 0, F.abs(prev_v))
    rel_next = F.abs(F.col(value) - next_v) / F.when(next_v != 0, F.abs(next_v))
    is_spike = (
        prev_v.isNotNull()
        & next_v.isNotNull()
        & (rel_prev > threshold)
        & (rel_next > threshold)
    )
    is_spike = F.coalesce(is_spike, F.lit(False))
    return df.withColumn("__spike", is_spike).filter(~F.col("__spike")).drop("__spike")


def top_k(df: DataFrame, order_col: str | Column, k: int = 7) -> DataFrame:
    """W4: global top-k, largest first (leaderboards,
    ``src/api_handler.py:304-310``).

    ``orderBy().limit(k)`` — Spark plans this as TakeOrderedAndProject:
    each task keeps a k-row heap, only k·partitions rows reach the
    driver. No full sort at any scale.
    """
    col = F.col(order_col) if isinstance(order_col, str) else order_col
    return df.orderBy(col.desc()).limit(k)


def top_k_per_group(
    df: DataFrame,
    key: str | list[str],
    order_col: str,
    k: int,
    ascending: bool = False,
) -> DataFrame:
    """W5: per-key trailing slice / per-group top-k
    (``ORDER BY epoch DESC LIMIT n`` per key, ``src/api_handler.py:59``).

    row_number over a per-key window ≤ k; one shuffle on the key.
    """
    order = F.asc(order_col) if ascending else F.desc(order_col)
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def trailing_delta(
    df: DataFrame,
    key: str = "bls_key",
    time: str = "epoch",
    value: str = "earnings",
    window_len: int = EPOCHS_PER_WEEK,
    min_rows: int = 9,
) -> DataFrame:
    """A10: first−last delta over a trailing ≤``window_len`` slice.

    Reference ``src/apr_sync_handler.py:17-27``: daily earnings = value
    at the newest epoch minus value at the oldest epoch of the last
    1575 (``EPOCHS_PER_WEEK``); keys with fewer than ``min_rows`` rows
    are skipped (``MINIMUM_EPOCH_LEADERBOARD = 9``).

    Rendered as ``max_by/min_by(value, time)`` over the trailing slice —
    a single grouped aggregate, no self-join.
    """
    sliced = top_k_per_group(df, key, time, window_len, ascending=False)
    return (
        sliced.groupBy(key)
        .agg(
            F.max_by(value, time).alias("__newest"),
            F.min_by(value, time).alias("__oldest"),
            F.count(F.lit(1)).alias("__n"),
            F.max(time).alias("last_" + time),
        )
        .filter(F.col("__n") >= min_rows)
        .select(
            key,
            "last_" + time,
            (F.col("__newest") - F.col("__oldest")).alias(value + "_delta"),
            F.col("__n").alias("n_rows"),
        )
    )


_CUMSUM_CHUNKS = 32


def skew_resistant_cumsum(
    df: DataFrame,
    key: str,
    time: str,
    value: str,
    out: str = "cum_value",
    n_chunks: int = _CUMSUM_CHUNKS,
) -> DataFrame:
    """Running total per key that survives a HOT KEY (one key holding a
    large share of all rows).

    A plain ``Window.partitionBy(key)`` running sum puts every row of a
    key into ONE task — with a 20%-of-corpus key, one executor core
    processes 20% of the data while the rest idle (and AQE does not
    split skewed *window* partitions, only joins/aggs). This operator
    decomposes the running total:

    1. chunk each key's time range into ``n_chunks`` contiguous slices
       (per-key min/max agg — map-side combinable);
    2. within-chunk running sums: window over ``(key, chunk)`` —
       parallelism is keys x chunks, so the hot key spreads over
       ``n_chunks`` tasks;
    3. per-chunk totals (small) -> exclusive prefix sum over chunks
       (window over the tiny per-key chunk-total table);
    4. broadcast-join the offsets back and add.

    Exact for integer values (longs), identical to the plain window's
    result under any chunking. Cost: one extra small agg + join versus
    the plain window; worth it only when key skew is real — use
    :func:`adaptive_cumsum` as the entry point and let its sampled
    key histogram decide (PLANS.md records both paths).
    """
    # Null-safe key joins throughout: a plain `join(.., key)` would
    # silently DROP NULL-key rows, while the plain-window form keeps
    # NULL as an ordinary key group — the two paths must stay
    # value-identical on any input (tested with NULL keys).
    #
    # r11 restructure (guide §2.4 — remove shuffles outright). The
    # before-plan paid THREE row-scale prices this version deletes:
    # (a) the offsets attach used eqNullSafe(key), whose rewritten
    #     join keys (coalesce/isnull wrapping) no longer match the
    #     within-window's hashpartitioning(key, chunk) — so the
    #     row-scale windowed frame was re-exchanged AND re-sorted for
    #     the final sort-merge join (Exchange(15)+Sort(16) in
    #     plans/r11/w1_skew_hotkey_before.txt). The key now rides in
    #     a one-field STRUCT column: struct equality has row
    #     semantics (NULL field == NULL field), so a PLAIN equi-join
    #     on (__jk, __chunk) is null-safe, its keys are the window's
    #     own partitioning attributes, and the big side joins with no
    #     exchange and no sort.
    # (b) the totals path stays an aggregation of the PRE-window
    #     frame: its partial (map-side) aggregate collapses each
    #     task's rows to (key, chunk) partials before any exchange,
    #     so the path's only shuffle is metadata-sized. (An A/B that
    #     derived totals from the windowed frame instead — max_by of
    #     the running sum — shared the big exchange via ReuseExchange
    #     but re-ran the row-scale sort+window for the second
    #     consumer: measured slower at bench scale, and sort×2 ≳
    #     scan×2 at any scale for the 2-3 columns this reads.)
    stats = df.groupBy(key).agg(
        F.min(time).alias("__t_min"), F.max(time).alias("__t_max")
    ).withColumnRenamed(key, "__sk")
    chunked = (
        df.join(stats, F.col(key).eqNullSafe(F.col("__sk")))
        .drop("__sk")
        .withColumn(
            "__chunk",
            F.when(
                F.col("__t_max") == F.col("__t_min"), F.lit(0)
            ).otherwise(
                (
                    (F.col(time) - F.col("__t_min"))
                    * n_chunks
                    / (F.col("__t_max") - F.col("__t_min") + 1)
                ).cast("int")
            ),
        )
        .drop("__t_min", "__t_max")
        .withColumn("__jk", F.struct(F.col(key).alias("k")))
    )
    within = Window.partitionBy("__jk", "__chunk").orderBy(time).rowsBetween(
        Window.unboundedPreceding, 0
    )
    totals = chunked.groupBy("__jk", "__chunk").agg(
        F.sum(value).alias("__chunk_total")
    )
    chunked = chunked.withColumn("__within", F.sum(value).over(within))
    prefix = Window.partitionBy("__jk").orderBy("__chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.withColumn(
        "__offset", F.coalesce(F.sum("__chunk_total").over(prefix), F.lit(0))
    ).select("__jk", "__chunk", "__offset")
    return (
        chunked.join(offsets, ["__jk", "__chunk"])
        .withColumn(out, F.col("__within") + F.col("__offset"))
        .drop("__jk", "__chunk", "__within", "__offset")
    )


def adaptive_cumsum(
    df: DataFrame,
    key: str,
    time: str,
    value: str,
    out: str = "cum_value",
) -> DataFrame:
    """ONE entry point for per-key running totals: picks the plain
    single-window plan or :func:`skew_resistant_cumsum` from a cheap
    sampled key histogram (VERDICT r2 task 5 — callers should not have
    to know their key distribution up front).

    Dispatch rule: sample 1% of the key column (seeded — deterministic
    dispatch), count rows per key, and if the hottest key's share
    exceeds ``1/n_chunks`` of :func:`skew_resistant_cumsum` (the point
    where one window partition would dominate a single task) route to
    the chunked decomposition; otherwise the plain window
    (one shuffle, no extra agg/join) wins. The probe is one tiny
    two-scalar aggregate job over the sampled key column only —
    O(sample) work, a bounded 1-row collect, the same cost class as
    AQE's own runtime statistics. Empty/degenerate samples fall back
    to the plain window.

    Both paths are value-identical for integer values (the chunked
    variant is exact under any chunking), so dispatch never changes
    results — only the plan shape (asserted in
    tests/test_skew_warehouse.py). Contract shared with every windowed
    running total in this engine: ``(key, time)`` should be unique —
    with tied times, ROWS-frame running sums are order-dependent at
    the tie in ANY implementation (plain or chunked), so callers break
    ties in the time tuple (the catalog convention).
    """
    def _histogram(keys_df):
        return (
            keys_df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.max("__c").alias("mx"), F.sum("__c").alias("tot"))
            .first()
        )

    probe = _histogram(df.select(key).sample(fraction=0.01, seed=42))
    if probe is None or probe["tot"] is None or probe["tot"] < 5_000:
        # Sample too small for the share estimate to clear sampling
        # noise at a 1/n_chunks threshold — the input is small enough
        # that an EXACT key histogram is itself a trivial job (this
        # branch is the small-data path; at 100 TB the 1% sample is
        # always ample).
        probe = _histogram(df.select(key))
    hot = (
        probe is not None
        and probe["tot"] is not None
        and probe["tot"] > 0
        and probe["mx"] / probe["tot"] > 1.0 / _CUMSUM_CHUNKS
    )
    if hot:
        return skew_resistant_cumsum(df, key=key, time=time, value=value, out=out)
    w = Window.partitionBy(key).orderBy(time).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn(out, F.sum(value).over(w))


def skew_resistant_rank(
    df: DataFrame,
    value: str,
    id_col: str,
    out: str = "rank",
    descending: bool = True,
    chunk_width: int = 64,
    chunk_col: Column | None = None,
    value_chunk_col: Column | None = None,
) -> DataFrame:
    """Global row_number by ``(value [DESC], id)`` with NO
    single-partition window.

    ``Window.orderBy(...)`` without a partition funnels every row
    through one task ("No Partition Defined" — the global-sort analog
    of the hot-key problem, but it ALWAYS bites, not just on skew).
    Decomposition::

        rank(r) = #rows with strictly better value            (A)
                + #rows with same value in lower id-chunks     (B)
                + row_number within (value, id-chunk) by id    (C)

    A: per-value counts → exclusive prefix over the DISTINCT-value
    table (a window over #distinct-values rows — metadata-sized).
    B: per-(value, chunk) counts → exclusive prefix per value over the
    chunk table (≤ #chunks rows per value).
    C: a window over ``(value, chunk)`` partitions, each bounded by
    ``chunk_width`` ids — no partition ever exceeds the chunk width
    regardless of how many rows share one value.

    Exact row_number semantics (``id_col`` must be unique); integer
    arithmetic throughout.

    ``chunk_col`` overrides the default ``id div chunk_width`` bucket
    for NON-NUMERIC ids: pass any expression that is monotone
    non-decreasing in ``id_col`` order (e.g. ``F.substring(id, 1, 2)``
    for string ids — a lexicographic prefix is always order-consistent
    with the full string under binary collation). Bucket sizes are
    then data-shaped rather than ``chunk_width``-bounded, so pick a
    prefix long enough that no single bucket approaches a partition.
    """
    vdir = F.desc(value) if descending else F.asc(value)
    chunk = (
        chunk_col
        if chunk_col is not None
        else F.expr(f"{id_col} div {chunk_width}")
    )
    t = df.withColumn("__chunk", chunk)

    # (A) exclusive prefix of counts over distinct values, best first.
    # This prefix itself runs CHUNKED (recursive global_prefix_sum):
    # distinct values are NOT metadata-sized when the rank value is
    # near-unique (cents, per-key spend totals, quality scores) —
    # with a plain window, step (A) would quietly reintroduce the
    # row-scale single-partition funnel this operator exists to
    # remove. Integral values chunk by ``value div chunk_width``;
    # non-integral values need ``value_chunk_col`` (any INTEGRAL
    # expression monotone in the value, e.g. ``floor(score*1000)``);
    # without one they keep the plain window over the distinct-value
    # table (only safe for genuinely bounded value domains).
    from pyspark.sql.types import IntegralType

    vcounts = t.groupBy(value).agg(F.count(F.lit(1)).alias("__vc"))
    if (
        isinstance(df.schema[value].dataType, IntegralType)
        or value_chunk_col is not None
    ):
        voff = global_prefix_sum(
            vcounts,
            id_col=value,
            value="__vc",
            out="__voff",
            inclusive=False,
            chunk_width=chunk_width,
            descending=descending,
            chunk_col=value_chunk_col,
        ).select(value, "__voff")
    else:
        wv = Window.orderBy(vdir).rowsBetween(Window.unboundedPreceding, -1)
        voff = vcounts.withColumn(
            "__voff", F.coalesce(F.sum("__vc").over(wv), F.lit(0))
        ).select(value, "__voff")

    # (B) exclusive prefix of counts over chunks, within each value
    ccounts = t.groupBy(value, "__chunk").agg(F.count(F.lit(1)).alias("__cc"))
    wc = Window.partitionBy(value).orderBy("__chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    coff = ccounts.withColumn(
        "__coff", F.coalesce(F.sum("__cc").over(wc), F.lit(0))
    ).select(value, "__chunk", "__coff")

    # (C) bounded within-(value, chunk) rank. The window partitions by
    # the STRUCT-wrapped value so the offset join below can reuse this
    # window's partitioning (struct grouping ≡ value grouping).
    win = Window.partitionBy("__jv", "__chunk").orderBy(id_col)
    ranked = t.withColumn(
        "__jv", F.struct(F.col(value).alias("k"))
    ).withColumn("__within", F.row_number().over(win))

    # r11 (guide §2.4 — remove shuffles outright): the two offset
    # tables (both value-keyed metadata scale) merge FIRST, and ONE
    # combined table joins the row-scale ranked frame on exactly its
    # window partitioning attributes (__jv, __chunk). The old tail
    # joined the big frame twice with eqNullSafe keys, whose
    # coalesce/isnull rewrite defeats partitioning reuse — the
    # before-plan re-exchanged and re-sorted the row-scale frame for
    # both attaches. A plain equi-join on the one-field struct is
    # null-safe (struct equality has row semantics: NULL field ==
    # NULL field — a NULL rank value is an ordinary group for the
    # window forms, and must not be dropped), so the big side now
    # joins with no exchange and no sort. The offset pre-merge stays
    # unhinted: voff is #distinct-values rows — AQE broadcasts while
    # it fits and falls back to a keyed shuffle join when it doesn't.
    voff2 = voff.select(F.col(value).alias("__vv"), "__voff")
    off = (
        coff.join(voff2, F.col(value).eqNullSafe(F.col("__vv")))
        .select(
            F.struct(F.col(value).alias("k")).alias("__jv"),
            "__chunk",
            (F.col("__voff") + F.col("__coff")).alias("__off"),
        )
    )
    return (
        ranked.join(off, ["__jv", "__chunk"])
        .withColumn(out, (F.col("__off") + F.col("__within")).cast("long"))
        .drop("__chunk", "__within", "__off", "__jv")
    )


def global_prefix_sum(
    df: DataFrame,
    id_col: str,
    value: str,
    out: str = "cum",
    inclusive: bool = True,
    chunk_width: int = 64,
    descending: bool = False,
    levels: int = 2,
    chunk_col: Column | None = None,
) -> DataFrame:
    """Ordered-by-id running total with NO single-partition window —
    the parallel-prefix shape: within-chunk running sums over
    ``id div chunk_width`` partitions, then an exclusive prefix over
    the chunk-total table, joined back (AQE broadcasts it while it is
    small; at scale it shuffles on the chunk key like any keyed
    join). Value-identical to ``sum(value) OVER (ORDER BY id
    [DESC])`` for integer values.

    ``levels`` RECURSES the chunk-total prefix (r4): with one level
    the chunk table is n/chunk_width rows through one window — still
    row-scale when ids are near-unique over billions of rows; the
    default two levels bound the only single-partition window at
    n/chunk_width², and each further level divides by chunk_width
    again. ``descending`` flips every ordering consistently (windows,
    chunk prefix, recursion), NULLS FIRST under asc / LAST under desc
    at every level — same as the plain window form.

    ``chunk_col`` overrides the top-level ``id div chunk_width``
    bucket for NON-INTEGRAL ids: any expression monotone
    non-decreasing in ``id_col`` order with INTEGRAL type (e.g.
    ``floor(score * 1000)`` for a [0,1] double) — recursion levels
    then chunk the integral bucket keys with the div default.
    """
    # internal columns carry a recursion-depth suffix: the recursive
    # call feeds its own chunk table back in (id_col="__chunkN"), and
    # its ``out`` must never collide with this frame's temps
    lv = levels
    ch, tot, off, loc, oc = (
        f"__chunk{lv}", f"__tot{lv}", f"__off{lv}", f"__local{lv}",
        f"__oc{lv}",
    )
    order = F.desc(id_col) if descending else F.asc(id_col)
    chunk = (
        chunk_col
        if chunk_col is not None
        else F.expr(f"{id_col} div {chunk_width}")
    )
    t = df.withColumn(ch, chunk)
    hi = 0 if inclusive else -1
    w_in = Window.partitionBy(ch).orderBy(order).rowsBetween(
        Window.unboundedPreceding, hi
    )
    local = t.withColumn(loc, F.coalesce(F.sum(value).over(w_in), F.lit(0)))
    totals = t.groupBy(ch).agg(F.sum(value).alias(tot))
    if levels > 1:
        offs = global_prefix_sum(
            totals,
            id_col=ch,
            value=tot,
            out=off,
            inclusive=False,
            chunk_width=chunk_width,
            descending=descending,
            levels=levels - 1,
        ).select(ch, off)
    else:
        w_c = Window.orderBy(
            F.desc(ch) if descending else F.asc(ch)
        ).rowsBetween(Window.unboundedPreceding, -1)
        offs = totals.withColumn(
            off, F.coalesce(F.sum(tot).over(w_c), F.lit(0))
        ).select(ch, off)
    # null-safe: a NULL id makes the chunk NULL; the window form keeps
    # that row (NULLS FIRST under asc / LAST under desc), so the
    # join-back must too. No broadcast hint: AQE broadcasts the chunk
    # table while it fits, and falls back to a keyed shuffle join when
    # it doesn't — a hard hint would pin an executor-OOM plan at scale.
    offs2 = offs.withColumnRenamed(ch, oc)
    return (
        local.join(offs2, F.col(ch).eqNullSafe(F.col(oc)))
        .withColumn(out, (F.col(loc) + F.col(off)).cast("long"))
        .drop(ch, loc, off, oc)
    )


def global_prefix_extrema(
    df: DataFrame,
    id_col: str,
    value: str,
    out_prev: str = "prev_max",
    out_next: str = "next_min",
    chunk_width: int = 64,
    levels: int = 2,
) -> DataFrame:
    """Per-row ``MAX(value)`` over all rows STRICTLY BEFORE (by
    ``id_col`` asc) and ``MIN(value)`` over all rows STRICTLY AFTER —
    with NO row-scale single-partition window. Value-identical to::

        max(value) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING TO -1)
        min(value) OVER (ORDER BY id ROWS 1 TO UNBOUNDED FOLLOWING)

    The nearest-neighbor-in-sorted-order primitive: after a global
    rank by a sort key, a row's nearest smaller/larger *eligible*
    value (make ``value`` NULL on ineligible rows — max/min skip
    NULLs, same as the window form) is exactly prefix-max /
    suffix-min. Used by caliper matching (nearest control by spend).

    Same recursive two-phase shape as :func:`global_prefix_sum`
    (prefix-max / suffix-min decompose over chunks exactly like sum):
    bounded within-chunk windows over ``id div chunk_width``
    partitions, then the chunk-extrema table — which grows linearly
    with the input, n/chunk_width rows — recurses through the same
    decomposition ``levels`` deep, so the only single-partition window
    sees n/chunk_width**levels rows. The chunk extrema join back with
    NO broadcast hint: AQE broadcasts while the table fits and falls
    back to a keyed shuffle join when it doesn't. ``greatest`` /
    ``least`` skip NULLs, preserving agg semantics when a whole chunk
    prefix is NULL.

    ``id_col`` must be UNIQUE: the suffix side evaluates as a
    preceding frame over the reversed order (incremental, never
    quadratic), which holds exactly the strictly-after row set only
    when no two rows tie on ``id_col`` (with ties, ROWS frames split
    by physical position, which differs between the asc and desc
    sorts — the same caveat as ``gap_fill_linear``). Both catalog
    callers pass a rank/distinct key.
    """
    return _prefix_extrema(
        df, id_col, value, value, out_prev, out_next, chunk_width, levels
    )


def _prefix_extrema(
    df: DataFrame,
    id_col: str,
    vmax: str,
    vmin: str,
    out_prev: str,
    out_next: str,
    chunk_width: int,
    levels: int,
) -> DataFrame:
    """Recursive core of :func:`global_prefix_extrema`: exclusive
    prefix-max over ``vmax`` and exclusive suffix-min over ``vmin``
    (the chunk table carries per-chunk max and min as SEPARATE
    columns, so the recursion needs both). Temp names carry the
    recursion depth so a level's columns never collide with its
    parent's."""
    lv = levels
    ch, pl, nl, cmx, cmn, po, no, oc = (
        f"__xch{lv}", f"__xpl{lv}", f"__xnl{lv}", f"__xmx{lv}",
        f"__xmn{lv}", f"__xpo{lv}", f"__xno{lv}", f"__xoc{lv}",
    )
    t = df.withColumn(ch, F.expr(f"{id_col} div {chunk_width}"))
    wb = Window.partitionBy(ch).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # Suffix-min via the REVERSED order with an incremental preceding
    # frame (r12, VERDICT r11 item 6 — the same rewrite as r11's
    # gap-fill fix): [1, unboundedFollowing] re-aggregates the
    # partition remainder per row (O(rows²) per partition). Here the
    # partition is chunk-bounded (≤ chunk_width rows) so the quadratic
    # was latent, not live — closed anyway so a future caller with a
    # bigger chunk can't reintroduce it. desc() is the exact reversal
    # of the default asc_nulls_first (desc defaults to nulls_last),
    # so for UNIQUE ids the frame holds exactly the strictly-after
    # set; min is order-independent within the frame.
    wf = Window.partitionBy(ch).orderBy(F.col(id_col).desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = t.withColumn(pl, F.max(vmax).over(wb)).withColumn(
        nl, F.min(vmin).over(wf)
    )
    totals = t.groupBy(ch).agg(
        F.max(vmax).alias(cmx), F.min(vmin).alias(cmn)
    )
    if levels > 1:
        offs = _prefix_extrema(
            totals, ch, cmx, cmn, po, no, chunk_width, levels - 1
        ).select(ch, po, no)
    else:
        wpb = Window.orderBy(ch).rowsBetween(Window.unboundedPreceding, -1)
        # Same reversal as wf above: chunk ids are groupBy outputs
        # (unique), so the reversed preceding frame is exactly the
        # strictly-after set — and this single-partition window stops
        # being quadratic in the bottom-level chunk count.
        wpf = Window.orderBy(F.col(ch).desc()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        offs = totals.select(
            ch,
            F.max(cmx).over(wpb).alias(po),
            F.min(cmn).over(wpf).alias(no),
        )
    offs2 = offs.withColumnRenamed(ch, oc)
    return (
        local.join(offs2, F.col(ch).eqNullSafe(F.col(oc)))
        .withColumn(out_prev, F.greatest(pl, po))
        .withColumn(out_next, F.least(nl, no))
        .drop(ch, pl, nl, po, no, oc)
    )
