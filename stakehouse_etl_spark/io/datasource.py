"""Custom Python DataSource (Spark 4 DataSource V2 API): the beacon
balances connector as a REAL ``spark.read.format(...)`` source.

``io/connectors.py`` fetches incremental head data on the driver (one
request per epoch — fine for the small T2-bounded head, and exactly
what the reference does, ``src/extract_handler.py:109-127``). This
module is the SCALE path for history loads: each epoch becomes an
``InputPartition``, and the fetch+parse runs ON THE EXECUTORS — a
1000-epoch backfill issues 1000 requests in parallel across the
cluster instead of serially through the driver.

The in-partition "fetch" here is the same deterministic payload
arithmetic the connector test fixtures use (the container has no
network); a deployment replaces ``_fetch_epoch`` with an HTTP GET to
``/eth/v1/beacon/states/{slot}/validators`` — partitioning, schema,
and planner integration are unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

BALANCE_DDL = "bls_key string, epoch bigint, balance bigint"


class EpochPartition(InputPartition):
    def __init__(self, epoch: int, n_keys: int):
        self.epoch = epoch
        self.n_keys = n_keys


def _fetch_epoch(epoch: int, n_keys: int) -> Iterator[tuple]:
    """Deployment boundary: swap for the archive-node GET at
    ``slot = epoch*32 − 1``. Deterministic fixture arithmetic, shared
    with the connector tests and the SQL oracle."""
    for i in range(1, n_keys + 1):
        yield ("0x" + str(i).zfill(8), epoch, 32_000_000_000 + i * 13 + epoch * 7)


class BeaconBalancesReader(DataSourceReader):
    def __init__(self, options: dict):
        self.lo = int(options.get("lo", 100))
        self.hi = int(options.get("hi", 102))
        self.n_keys = int(options.get("n_keys", 50))
        self.arrow = options.get("arrow", "false").lower() == "true"

    def partitions(self):
        return [
            EpochPartition(e, self.n_keys) for e in range(self.lo, self.hi + 1)
        ]

    def read(self, partition: EpochPartition) -> Iterator:
        if not self.arrow:
            return _fetch_epoch(partition.epoch, partition.n_keys)
        return self._read_arrow(partition)

    def _read_arrow(self, partition: EpochPartition) -> Iterator:
        """Arrow-vectorized path (``option("arrow", "true")``): the
        partition's rows transfer as ONE ``pyarrow.RecordBatch`` built
        from numpy columns instead of per-row Python tuples — the
        columnar fast lane a real deployment builds straight from the
        parsed JSON arrays. Values are identical to the row path
        (tests/test_connectors.py asserts equality)."""
        import numpy as np
        import pyarrow as pa

        idx = np.arange(1, partition.n_keys + 1, dtype=np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(["0x" + str(i).zfill(8) for i in idx]),
                pa.array(np.full(partition.n_keys, partition.epoch, np.int64)),
                pa.array(32_000_000_000 + idx * 13 + partition.epoch * 7),
            ],
            names=["bls_key", "epoch", "balance"],
        )


class BeaconBalancesDataSource(DataSource):
    """``spark.read.format("beacon_balances")`` after
    ``spark.dataSource.register(BeaconBalancesDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "beacon_balances"

    def schema(self) -> str:
        return BALANCE_DDL

    def reader(self, schema) -> BeaconBalancesReader:
        return BeaconBalancesReader(self.options)


# ---------------------------------------------------------------------------
# Streaming variant: the T1 incremental head as a custom stream source
# ---------------------------------------------------------------------------
class BeaconBalancesStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked incremental epoch puller: the offset dict
    ``{"epoch": N}`` is the streaming-source rendering of the
    reference's runner-table resume cursor (T1/T3 — `last_epoch` in
    ``src/extract_handler.py``). Each trigger pulls up to ``step``
    epochs toward the chain head (``hi``); Spark checkpoints the
    offset, so a restarted query resumes exactly where it stopped,
    and ``readBetweenOffsets`` replays any committed range
    deterministically (the T5 idempotence contract at the source)."""

    def __init__(self, options: dict):
        self.lo = int(options.get("lo", 100))
        self.hi = int(options.get("hi", 104))
        self.step = int(options.get("step", 2))
        self.n_keys = int(options.get("n_keys", 50))

    def initialOffset(self) -> dict:
        return {"epoch": self.lo}

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        # Materialized list, not a generator: Spark's simple-stream
        # wrapper caches and copy.copy()s the iterator for replay
        # (datasource_internal.getCache) — generator objects are not
        # copyable, list iterators are. The batch is step-bounded, so
        # the materialization is small by construction.
        return [
            row
            for e in range(lo, hi + 1)
            for row in _fetch_epoch(e, self.n_keys)
        ]

    def read(self, start: dict):
        cur = int(start["epoch"])
        if cur > self.hi:
            return iter([]), start
        end = min(cur + self.step - 1, self.hi)
        return iter(self._rows(cur, end)), {"epoch": end + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(int(start["epoch"]), int(end["epoch"]) - 1))


class BeaconBalancesStreamSource(DataSource):
    """``spark.readStream.format("beacon_balances_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "beacon_balances_stream"

    def schema(self) -> str:
        return BALANCE_DDL

    def simpleStreamReader(self, schema) -> BeaconBalancesStreamReader:
        return BeaconBalancesStreamReader(self.options)


# ---------------------------------------------------------------------------
# Custom writer: json-lines sink with a two-phase commit protocol
# ---------------------------------------------------------------------------
class _JsonlCommit(WriterCommitMessage):
    def __init__(self, filename: str):
        self.filename = filename


def _write_part(path: str, iterator) -> _JsonlCommit:
    """Task side: write the partition's rows to ``part-<uuid>.jsonl.tmp``
    and report the final name."""
    import json as _json
    import os as _os
    import uuid as _uuid

    _os.makedirs(path, exist_ok=True)
    name = f"part-{_uuid.uuid4().hex}.jsonl"
    tmp = _os.path.join(path, name + ".tmp")
    with open(tmp, "w") as f:
        for row in iterator:
            f.write(_json.dumps(row.asDict()) + "\n")
    return _JsonlCommit(name)


def _commit_parts(path: str, messages, manifest_name: str) -> None:
    """Job side: rename the reported parts final, then publish the
    manifest listing them with one atomic rename."""
    import os as _os

    names = sorted(m.filename for m in messages if m is not None)
    for name in names:
        _os.rename(_os.path.join(path, name + ".tmp"), _os.path.join(path, name))
    manifest = _os.path.join(path, manifest_name)
    with open(manifest + ".tmp", "w") as f:
        f.write("\n".join(names))
    _os.rename(manifest + ".tmp", manifest)


def _abort_parts(path: str, messages) -> None:
    """Job side: drop the reported parts' ``.tmp`` files."""
    import os as _os

    for m in messages:
        if m is not None:
            try:
                _os.remove(_os.path.join(path, m.filename + ".tmp"))
            except FileNotFoundError:
                pass


class JsonLinesWriter(DataSourceWriter):
    """Task/job two-phase commit, the V2 writer contract: each task
    writes ``part-<uuid>.jsonl.tmp`` and reports the name in its
    commit message; ONLY the job-level ``commit`` renames the parts
    final and writes the ``_MANIFEST`` listing them. Readers trust the
    manifest alone, so a torn job (crashed driver, aborted stage,
    speculative duplicate task) leaves stray ``.tmp`` files that no
    reader ever sees — the same readers-see-committed-state invariant
    as the snapshot sink, here at the task level."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> _JsonlCommit:
        return _write_part(self.path, iterator)

    def commit(self, messages) -> None:
        _commit_parts(self.path, messages, "_MANIFEST")

    def abort(self, messages) -> None:
        _abort_parts(self.path, messages)


class JsonLinesDataSource(DataSource):
    """``df.write.format("warehouse_jsonl").option("path", p).save()``."""

    @classmethod
    def name(cls) -> str:
        return "warehouse_jsonl"

    def writer(self, schema, overwrite: bool) -> JsonLinesWriter:
        return JsonLinesWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return JsonLinesStreamWriter(self.options)


def read_jsonl_committed(spark, path: str, schema: str):
    """Manifest-trusting read side of the jsonl sink: only files the
    committed ``_MANIFEST`` lists are visible."""
    import os as _os

    manifest = _os.path.join(path, "_MANIFEST")
    if not _os.path.exists(manifest):
        raise FileNotFoundError(f"no committed manifest under {path}")
    with open(manifest) as f:
        names = [ln for ln in f.read().splitlines() if ln]
    files = [_os.path.join(path, n) for n in names]
    return spark.read.schema(schema).json(files)


# ---------------------------------------------------------------------------
# Streaming writer: per-microbatch manifests (exactly-once visibility)
# ---------------------------------------------------------------------------
class JsonLinesStreamWriter(DataSourceStreamWriter):
    """Streaming flavor of the two-phase commit: each micro-batch's
    parts publish under ``_MANIFEST.<batchId>`` in the job-level
    commit. A batch replayed after a crash overwrites ITS OWN
    manifest (same batchId → same visibility slot), so readers see
    each batch at most once — end-to-end exactly-once visibility on a
    plain filesystem, the property the reference leans on SQS+upsert
    for (T5)."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> _JsonlCommit:
        return _write_part(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        _commit_parts(self.path, messages, f"_MANIFEST.{batchId}")

    def abort(self, messages, batchId: int) -> None:
        _abort_parts(self.path, messages)


def read_jsonl_stream_committed(spark, path: str, schema: str):
    """Union of every committed micro-batch manifest."""
    import os as _os

    names: list[str] = []
    for entry in sorted(_os.listdir(path)):
        if entry.startswith("_MANIFEST.") and not entry.endswith(".tmp"):
            with open(_os.path.join(path, entry)) as f:
                names.extend(ln for ln in f.read().splitlines() if ln)
    if not names:
        raise FileNotFoundError(f"no committed batch manifests under {path}")
    return spark.read.schema(schema).json(
        [_os.path.join(path, n) for n in names]
    )
