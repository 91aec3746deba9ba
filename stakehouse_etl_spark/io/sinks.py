"""Idempotent sinks.

The reference's only write primitives are MySQL ``INSERT … ON DUPLICATE
KEY UPDATE`` (upsert, SURVEY §2.1 K1) and ``INSERT IGNORE`` (keep-first,
K2), both batched and idempotent so SQS redelivery is safe (T5).

On a Parquet warehouse the equivalent durability contract is
*deterministic recompute + atomic replace*:

- ``write_upsert`` — union incoming rows with the existing table,
  keep the newest row per primary key (``row_number() == 1`` over a
  monotonically increasing ingest version), and atomically replace
  the table (or just the touched partitions). This is the
  plain-Parquet rendering of Delta ``MERGE INTO``.
- ``write_insert_ignore`` — same, but keep the *oldest* row per key.

Publish protocol (no driver-side materialization — the merge result is
never collect()ed):

1. The merged DataFrame is written to a sibling ``<path>.__staging__``
   directory. The write job reads the CURRENT table files while they
   are still intact, so self-overwrite is safe without buffering rows
   through the driver.
2. Metadata-only renames (Hadoop ``FileSystem.rename``) move the staged
   output into place: whole-directory swap for unpartitioned tables,
   per-partition-directory swap for partitioned ones. Renames are
   O(1) on HDFS and local filesystems; on object stores the same code
   runs through the store's committer semantics. No data moves twice.

Both writers shuffle once on the primary key; at 100 TB pass
``partition_cols`` (e.g. an epoch bucket) so only touched partitions
are read, merged, and swapped — the whole-table path is for small
dims/state only. The only ``collect()`` calls in this module are
partition *metadata* (distinct partition values / file listings of
touched partitions), never row data; ``tests/test_sinks_scale.py``
asserts that contract.

Existence rule (:func:`read_existing`): a table is *absent* when its
path is missing or *empty* — no data file, only ``_``/``.`` names such
as the ``_SUCCESS`` a CDC write that deleted every row leaves. Any
other table is read, and an *unreadable* one (truncated footer, schema
conflict) raises instead of being replaced.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from stakehouse_etl_spark.functions.financials import EPOCHS_PER_DAY

_VERSION_COL = "__ingest_version"
_STAGING_SUFFIX = ".__staging__"
_OLD_SUFFIX = ".__old__"
_UNDO_SUFFIX = ".__undo__"


def _merge(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: list[str],
    keep: str,
) -> DataFrame:
    """Resolve key conflicts between existing and incoming rows.

    ``keep='incoming'`` → upsert semantics (K1); ``keep='existing'`` →
    insert-ignore semantics (K2).
    """
    incoming_v = incoming.withColumn(_VERSION_COL, F.lit(1))
    if existing is None:
        merged = incoming_v
    else:
        existing_v = existing.select(*incoming.columns).withColumn(
            _VERSION_COL, F.lit(0)
        )
        merged = existing_v.unionByName(incoming_v)
    order = F.desc(_VERSION_COL) if keep == "incoming" else F.asc(_VERSION_COL)
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", _VERSION_COL)
    )


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` plus the JVM Path constructor —
    the same rename/delete primitives Spark's own commit protocol uses,
    so the publish step works on any Hadoop-supported filesystem."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def read_existing(spark: SparkSession, path: str) -> DataFrame | None:
    """The table at ``path``, or None when it is absent (see the module
    docstring). Existence is decided by driver-side filesystem calls,
    so it runs no Spark job; a read error raises."""
    fs, P = _fs(spark, path)
    if not fs.exists(P(path)) or not _has_data_file(fs, P(path)):
        return None
    return spark.read.parquet(path)


def _has_data_file(fs, jp) -> bool:
    """Whether a data file lies under ``jp``, skipping the names Spark's
    file index hides (a ``_`` dir counts only as a ``col=value``)."""
    for st in fs.listStatus(jp):
        name = st.getPath().getName()
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        if not st.isDirectory() or _has_data_file(fs, st.getPath()):
            return True
    return False


def _checked_rename(fs, P, src: str, dst: str) -> None:
    """Hadoop ``FileSystem.rename`` signals most failures by returning
    FALSE, not raising — ignoring the result can end in deleting the
    only copy of a table. Fail loud instead. A missing destination
    parent is created first (a rename into it would return FALSE)."""
    parent = P(dst).getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if not fs.rename(P(src), P(dst)):
        raise IOError(f"filesystem rename failed: {src} -> {dst}")


def _recover(spark: SparkSession, path: str, partition_depth: int = 0) -> None:
    """Roll back the leftovers of a writer that died mid-publish.

    Whole-table swap: if ``path`` is missing but ``<path>.__old__``
    exists, the crash happened between the two renames — restore the
    old table (the interrupted batch re-applies idempotently on
    retry). If both exist, the publish completed; drop the stale old.

    Per-partition swap: any partition parked under ``<path>.__undo__``
    whose destination is missing is restored; completed leftovers are
    dropped. Runs at the start of every write so a crashed writer
    never strands the table."""
    fs, P = _fs(spark, path)
    old = path.rstrip("/") + _OLD_SUFFIX
    if fs.exists(P(old)):
        if not fs.exists(P(path)):
            _checked_rename(fs, P, old, path)
        else:
            fs.delete(P(old), True)
    undo_root = path.rstrip("/") + _UNDO_SUFFIX
    if partition_depth and fs.exists(P(undo_root)):
        for rel in _staged_partition_dirs(fs, P, undo_root, partition_depth):
            if not fs.exists(P(path + "/" + rel)):
                _checked_rename(fs, P, undo_root + "/" + rel, path + "/" + rel)
        fs.delete(P(undo_root), True)


def _swap_dir(spark: SparkSession, staging: str, path: str) -> None:
    """Replace directory ``path`` with ``staging`` via two metadata
    renames (old table parked at ``<path>.__old__`` until the new one
    is in place — never deleted first). A crash between the renames
    leaves the table briefly absent; :func:`_recover` restores it on
    the next write. Every rename result is checked."""
    fs, P = _fs(spark, path)
    old = path.rstrip("/") + _OLD_SUFFIX
    if fs.exists(P(old)):
        fs.delete(P(old), True)
    if fs.exists(P(path)):
        _checked_rename(fs, P, path, old)
    _checked_rename(fs, P, staging, path)
    if fs.exists(P(old)):
        fs.delete(P(old), True)


def _staged_partition_dirs(fs, P, root: str, depth: int) -> list[str]:
    """Relative ``col=value[/col=value…]`` leaf directories under a
    staged partitioned write. Listing is partition-metadata-scale."""
    out: list[str] = []

    def walk(jp, d: int, rel: list[str]) -> None:
        for st in fs.listStatus(jp):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if "=" not in name:
                continue
            r = rel + [name]
            if d == 1:
                out.append("/".join(r))
            else:
                walk(st.getPath(), d - 1, r)

    walk(P(root), depth, [])
    return out


def _publish(
    spark: SparkSession,
    merged: DataFrame,
    path: str,
    partition_cols: list[str] | None,
    table_exists: bool,
    drop_dirs: list[str],
) -> None:
    """Stage ``merged`` next to ``path`` and rename into place.

    Unpartitioned (or first write): whole-directory swap. Partitioned
    incremental write: per-partition swap of exactly the staged leaf
    directories, plus deletion of ``drop_dirs`` (partitions whose last
    rows were deleted this batch and which therefore produced no staged
    output — without this, dynamic-partition-overwrite-style writers
    silently resurrect fully-deleted partitions)."""
    staging = path.rstrip("/") + _STAGING_SUFFIX
    fs, P = _fs(spark, path)
    if fs.exists(P(staging)):
        fs.delete(P(staging), True)
    writer = merged.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(staging)

    if not table_exists or not partition_cols:
        _swap_dir(spark, staging, path)
        return

    # Per-partition swap: the live partition is PARKED under
    # <path>.__undo__ (never deleted first), the staged one renamed in,
    # and the undo dirs dropped only after every partition landed. A
    # crash mid-loop leaves either the old or the new dir reachable;
    # _recover() restores parked partitions on the next write.
    undo_root = path.rstrip("/") + _UNDO_SUFFIX
    if fs.exists(P(undo_root)):
        fs.delete(P(undo_root), True)
    staged = _staged_partition_dirs(fs, P, staging, len(partition_cols))
    for rel in staged:
        if fs.exists(P(path + "/" + rel)):
            _checked_rename(fs, P, path + "/" + rel, undo_root + "/" + rel)
        _checked_rename(fs, P, staging + "/" + rel, path + "/" + rel)
    staged_set = set(staged)
    for rel in drop_dirs:
        if rel not in staged_set:
            fs.delete(P(path + "/" + rel), True)
    fs.delete(P(staging), True)
    fs.delete(P(undo_root), True)


def _partition_pred(partition_cols: list[str], rows: list[Row]) -> Column:
    """Predicate selecting exactly the given partition-value tuples —
    deterministic on partition columns only, so it prunes at the scan
    (PartitionFilters). Single column uses a compact ``isin`` (a
    backfill can touch thousands of buckets; an OR-chain would bloat
    the plan); multi-column falls back to OR-of-ANDs."""
    if not rows:
        return F.lit(False)
    if len(partition_cols) == 1:
        c = partition_cols[0]
        vals = [r[c] for r in rows]
        non_null = [v for v in vals if v is not None]
        pred = F.col(c).isin(non_null) if non_null else F.lit(False)
        if len(non_null) < len(vals):
            pred = pred | F.col(c).isNull()
        return pred
    terms = [
        reduce(
            lambda a, b: a & b,
            [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_cols],
        )
        for r in rows
    ]
    return reduce(lambda a, b: a | b, terms)


def _partition_dir_of(file_path: str, n_cols: int) -> str:
    """Relative partition directory (last ``n_cols`` ``col=value``
    components) of a data-file path from ``input_file_name()`` — lets
    us name published partition dirs without re-implementing Hive's
    value-escaping rules. ``input_file_name()`` returns a URI, so each
    component is URL-decoded once to recover the on-disk name (a space
    arrives as ``%20``; a Hive-escaped ``%3A`` arrives double-encoded
    as ``%253A`` and decodes back to ``%3A``)."""
    from urllib.parse import unquote

    parts = file_path.rstrip("/").split("/")[:-1]
    return "/".join(unquote(p) for p in parts[-n_cols:])


def write_cdc(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_val: str = "D",
    partition_cols: list[str] | None = None,
) -> None:
    """Apply one CDC batch (upserts + delete tombstones) to the table.

    Within the batch the LAST op per key (by ``seq_cols``, then an
    ``op_col`` desc tiebreaker, then a payload-hash tiebreaker — so
    even full ties resolve identically across runs, never by physical
    row order) decides: delete removes the key, anything
    else (including a NULL op — malformed change records upsert rather
    than silently vanishing) upserts the row. Same single-shuffle merge shape as
    :func:`write_upsert`, plus one anti-join for the tombstones — the
    plain-Parquet rendering of Delta ``MERGE ... WHEN MATCHED AND
    op = 'D' THEN DELETE``. Batches must be applied in change order
    (the streaming foreachBatch contract guarantees it).

    With ``partition_cols`` set, tombstones must carry the partition
    values of the rows they delete (the standard contract for
    partitioned CDC without a global index — cf. Hudi/Delta partition
    path requirements): only the batch's touched partitions are read,
    merged, and swapped, and partitions emptied by deletes are removed
    rather than left stale.
    """
    # Final payload-hash tiebreaker: two rows tied on seq_cols AND
    # op_col (e.g. two equal-seq upserts with different payloads)
    # would otherwise resolve by physical row order (review r5). The
    # xxhash64 over the remaining columns in sorted-name order is
    # content-deterministic across runs.
    payload_cols = sorted(
        c for c in batch.columns
        if c not in set(keys) | set(seq_cols) | {op_col}
    )
    tiebreak = (
        [F.desc(F.xxhash64(*payload_cols))] if payload_cols else []
    )
    w = Window.partitionBy(*keys).orderBy(
        *[F.desc(c) for c in seq_cols], F.desc_nulls_last(op_col), *tiebreak
    )
    compact = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    is_del = F.col(op_col).eqNullSafe(F.lit(delete_val))
    ups = compact.filter(~is_del).drop(op_col)
    dels = compact.filter(is_del)
    _write_keyed(spark, ups, path, keys, "incoming", partition_cols, deletes=dels)


def _write_keyed(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    keep: str,
    partition_cols: list[str] | None,
    deletes: DataFrame | None = None,
) -> None:
    """Recover, read the table (or None), prune it to the batch's
    partitions, drop the ``deletes`` keys, merge ``incoming`` and
    publish. The only collects are partition metadata."""
    _recover(spark, path, len(partition_cols or []))
    existing = read_existing(spark, path)
    drop_dirs: list[str] = []
    if existing is not None and partition_cols:
        # Steady-state incremental write: read/merge/swap ONLY the
        # partitions present in the batch — bounded by batch span, not
        # table history.
        touched = incoming.select(*partition_cols).distinct().collect()
        if deletes is not None:
            del_parts = deletes.select(*partition_cols).distinct().collect()
            touched = list(dict.fromkeys(touched + del_parts))
            # Published directory names of delete-touched partitions, so
            # a partition whose rows are all deleted can be dropped by name.
            if del_parts:
                files = (
                    existing.filter(_partition_pred(partition_cols, del_parts))
                    .select(F.input_file_name().alias("f"))
                    .distinct()
                    .collect()
                )
                drop_dirs = sorted(
                    {_partition_dir_of(r["f"], len(partition_cols)) for r in files}
                )
        existing = existing.filter(_partition_pred(partition_cols, touched))
    if existing is not None and deletes is not None:
        existing = existing.join(deletes.select(*keys), keys, "left_anti")
    merged = _merge(existing, incoming, keys, keep=keep)
    _publish(spark, merged, path, partition_cols, existing is not None, drop_dirs)


def write_upsert(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    partition_cols: list[str] | None = None,
) -> None:
    """K1: INSERT … ON DUPLICATE KEY UPDATE → newest-wins merge +
    staged write + atomic rename (no driver-side materialization).

    Within-batch contract: ``incoming`` should be key-unique — two
    rows sharing a key in ONE batch resolve to an arbitrary (but
    single) winner, since the newest-wins ordering only versions
    existing-vs-incoming, not row order inside a batch (the reference
    applies its executemany row-by-row, where the last statement wins;
    callers that need ordered within-batch resolution use
    ``write_cdc``'s ``seq_cols``).

    CONTRACT with ``partition_cols``: partition values must be
    functionally determined by the key (e.g. the epoch bucket of an
    entity-time key) — only the batch's partitions are read and
    merged, so a key "moving" between partitions would leave its old
    row in the unread partition (the same partition-path contract as
    Hudi/Delta without a global index). Keys here always embed the
    time column, so the bucket is stable by construction."""
    _write_keyed(spark, incoming, path, keys, "incoming", partition_cols)


def write_insert_ignore(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
) -> None:
    """K2: INSERT IGNORE → oldest-wins merge + staged write + atomic
    rename into an unpartitioned table."""
    _write_keyed(spark, incoming, path, keys, "existing", None)


def with_epoch_bucket(
    df: DataFrame,
    time_col: str = "epoch",
    epochs_per_bucket: int = EPOCHS_PER_DAY,
) -> DataFrame:
    """Add the physical partition key for entity-time tables:
    ``epoch_bucket = epoch // N`` (default 225 = one day of beacon
    epochs, ``src/utils/constants.py:4``). Epoch-range predicates then
    prune partitions at the scan (SURVEY §1.4 / §4)."""
    return df.withColumn(
        "epoch_bucket", (F.col(time_col) / epochs_per_bucket).cast("long")
    )


def write_time_partitioned(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    time_col: str = "epoch",
    epochs_per_bucket: int = EPOCHS_PER_DAY,
) -> None:
    """K1 upsert into an epoch-bucket-partitioned layout: only the
    buckets present in ``incoming`` are merged and atomically swapped —
    the steady-state incremental write touches one or two
    day-partitions regardless of table history size, and backfills
    (T4) rewrite exactly the repaired buckets."""
    bucketed = with_epoch_bucket(incoming, time_col, epochs_per_bucket)
    write_upsert(spark, bucketed, path, keys, partition_cols=["epoch_bucket"])


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Hash-bucketed (and per-file sorted by ``keys``) warehouse table: the
    co-located-join layout. Two tables bucketed by the same key with
    the same bucket count join with NO exchange on either side — at
    100 TB, pre-bucketing the fact tables on their join key (e.g.
    ``bls_key`` or ``orderkey``) turns every steady-state fact⋈fact
    join and keyed aggregation into a shuffle-free stage. Parquet
    datasource table; pass ``path`` for an external location."""
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


# ---------------------------------------------------------------------------
# Versioned snapshots (plain-parquet time travel)
# ---------------------------------------------------------------------------
_SNAP_STAGING = ".__snap_staging__"


def snapshot_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed snapshot versions under ``path`` (ascending). A
    version counts as committed iff its directory carries Spark's
    ``_SUCCESS`` marker — a writer that died mid-copy leaves either a
    staging dir (ignored) or a marker-less dir (ignored), so readers
    never observe a torn snapshot."""
    fs, P = _fs(spark, path)
    if not fs.exists(P(path)):
        return []
    out = []
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        if name.startswith("v=") and fs.exists(P(f"{path}/{name}/_SUCCESS")):
            out.append(int(name[2:]))
    return sorted(out)


def write_snapshot(spark: SparkSession, df: DataFrame, path: str) -> int:
    """Append-only snapshot publish: write the full state to a staging
    directory, then one atomic rename to ``<path>/v=<n+1>``. Readers
    resolve "current" as the max committed version, so there is no
    pointer file to update non-atomically and old versions stay
    readable forever (time travel / reproducible training runs — pin
    the snapshot version in the job config instead of racing a table
    that retrains mid-read). Returns the published version.

    Scale: the only listing is one directory of version names
    (metadata); row data moves once, through executors.
    """
    fs, P = _fs(spark, path)
    vs = snapshot_versions(spark, path)
    nxt = (vs[-1] + 1) if vs else 1
    staging = f"{path}/{_SNAP_STAGING}"
    fs.delete(P(staging), True)
    df.write.mode("overwrite").parquet(staging)
    dst = f"{path}/v={nxt}"
    if fs.exists(P(dst)):
        raise IOError(
            f"snapshot version collision at {dst} (concurrent writer?)"
        )
    _checked_rename(fs, P, staging, dst)
    return nxt


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot — latest by default, or the pinned
    ``version`` (time travel)."""
    vs = snapshot_versions(spark, path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"snapshot v={v} not committed under {path}")
    return spark.read.parquet(f"{path}/v={v}")


def vacuum_snapshots(
    spark: SparkSession, path: str, keep_last: int = 2
) -> list[int]:
    """Retention for the snapshot table: delete all but the newest
    ``keep_last`` committed versions (plus any torn/uncommitted
    leftovers, which no reader can see). Returns the deleted version
    numbers. The deletes are per-version directory removals — a
    reader pinned to a retained version is unaffected; one pinned to
    a vacuumed version fails loudly on its next read rather than
    silently seeing other data."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, P = _fs(spark, path)
    vs = snapshot_versions(spark, path)
    drop = vs[:-keep_last] if len(vs) > keep_last else []
    for v in drop:
        fs.delete(P(f"{path}/v={v}"), True)
    # torn leftovers: staging dir and marker-less version dirs
    if fs.exists(P(path)):
        for st in fs.listStatus(P(path)):
            name = st.getPath().getName()
            if name == _SNAP_STAGING or (
                name.startswith("v=")
                and not fs.exists(P(f"{path}/{name}/_SUCCESS"))
            ):
                fs.delete(st.getPath(), True)
    return drop
