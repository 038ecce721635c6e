"""Custom Python DataSources (Spark 4 DataSource API): a deterministic
synthetic-events generator (batch and stream reader) and a JSON-lines
sink (batch and stream writer).

``spark.dataSource.register`` → ``spark.read.format("synthetic_events")``
fabricates the ``events`` shape at any row count: the driver plans N
``InputPartition``s and each executor materializes its row range
independently — no driver-side generation, no storage.

Determinism is load-bearing (tests diff two reads byte-for-byte): every
field derives from a splitmix64 hash of (seed, row_id), a pure function —
no RNG object whose state would depend on partition scheduling.

Reference parity note: the reference generates nothing (it reads fixed
CSV/JSON inputs), and no registered query reads these sources; they
exercise the Python DataSource API itself and mirror the ``events``
table schema from TESTDATA.md.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

_MASK = (1 << 64) - 1

EVENT_TYPES: Sequence[str] = ("view", "click", "purchase", "signup", "error")

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def splitmix64(x: int) -> int:
    """SplitMix64 finalizer: a pure 64-bit mix (public-domain algorithm,
    same constants as java.util.SplittableRandom)."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return (x ^ (x >> 31)) & _MASK


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` batch source.

    Options: ``rows`` (total, default 1000), ``partitions`` (default 8),
    ``seed`` (default 0), ``users`` (key cardinality, default 100),
    ``zipf`` (default 0: uniform user keys; 1: Zipf s≈1 — hot user
    ~1/ln(users) of ALL events; 2: HEAVY Zipf s=1.5 — hot user ~29% of
    all events, the shape that breaks per-key windows and sort-merge
    joins at scale; used by the skew rehearsal of commit 40a73ee).
    """

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )

    def reader(self, schema) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)

    def streamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("partitions", 8))
        self.seed = int(options.get("seed", 0))
        self.users = int(options.get("users", 100))
        self.zipf = int(options.get("zipf", 0))

    def partitions(self) -> Sequence[InputPartition]:
        # Even row-range split; each partition is self-describing so the
        # executor-side read() needs no driver state beyond the options.
        return [InputPartition(i) for i in range(self.num_partitions)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        i = partition.value
        lo = self.rows * i // self.num_partitions
        hi = self.rows * (i + 1) // self.num_partitions
        for rid in range(lo, hi):
            yield _row_for(rid, self.seed, self.users, self.zipf)


def _zipf_rank(h: int, users: int, mode: int) -> int:
    """Deterministic Zipf key from a 64-bit hash; pure function of the
    hash, so partition-order independent like every other field.

    mode 1 — Zipf(s≈1), the classic log-inverse sampler:
    rank = ⌊e^(u·ln(U+1))⌋ − 1 for u ∈ [0,1) gives
    P(rank = k) = ln(1 + 1/(k+1)) / ln(U+1) ≈ 1/(k+1): user 0 draws
    ~1/ln(U) of all events (~6% at U=150k).

    mode 2 — HEAVY Zipf(s=1.5) via the Pareto inverse
    rank = ⌊u^(−1/(s−1))⌋ − 1 = ⌊u^−2⌋ − 1 (tail P(rank ≥ k) = k^−½):
    user 0 draws ~29% of ALL rows regardless of U — the hot-key mass
    that actually breaks per-key windows and sort-merge partitions, so
    mitigation head-to-heads measure a real straggler, not noise."""
    import math

    u = (h >> 11) / float(1 << 53)  # 53-bit mantissa-exact uniform
    if mode >= 2:
        u = max(u, 1e-12)  # guard the pole at u=0
        return min(users - 1, int(u ** -2.0) - 1)
    return min(users - 1, int(math.exp(u * math.log(users + 1.0))) - 1)


def _row_for(rid: int, seed: int, users: int, zipf: int = 0) -> tuple:
    """One deterministic event row — shared by the batch and stream
    readers so a drained stream equals the equivalent batch read."""
    h = splitmix64(rid ^ (seed * 0x9E3779B97F4A7C15 & _MASK))
    ts = _EPOCH + _dt.timedelta(seconds=h % (30 * 86400))
    user = _zipf_rank(h, users, zipf) if zipf else (h >> 24) % users
    etype = EVENT_TYPES[(h >> 8) % len(EVENT_TYPES)]
    value = round(((h >> 16) % 100000) / 100.0, 2)
    return (rid, ts, user, etype, value)


class SyntheticEventsStreamReader(DataSourceStreamReader):
    """Streaming half of the Python DataSource API (Spark 4,
    partition-planned — NOT the driver-side SimpleStreamReader): offsets
    are plain row counts, each micro-batch covers [start, end) split
    into executor-side row ranges, and rows come from the same
    splitmix64 function as the batch reader — so a fully drained stream
    is byte-identical to the batch read of the same row count
    (tests/test_sources.py pins this).

    ``rows_per_batch`` bounds each micro-batch; ``max_rows`` bounds the
    stream so availableNow drains terminate. Restart behavior: row
    CONTENT is restart-safe (generation is a pure function of
    (seed, row_id) and the checkpointed offset IS the row count), and
    the reader re-learns the committed high-water mark from the offsets
    Spark passes to ``partitions()`` when it replays the pending batch —
    but a fresh reader instance has no access to the offset log itself,
    so on the no-pending-batch restart path ``latestOffset()`` can
    briefly lag the committed offset (empty batches until it catches
    up). Fine for its role — tests and demos of the DataSource API —
    not a durable production source; a real connector derives
    latestOffset from the external system, which this synthetic source
    deliberately lacks."""

    def __init__(self, options: dict) -> None:
        self.rows_per_batch = int(options.get("rows_per_batch", 1000))
        self.max_rows = int(options.get("max_rows", 10_000))
        self.num_partitions = int(options.get("partitions", 8))
        self.seed = int(options.get("seed", 0))
        self.users = int(options.get("users", 100))
        self.zipf = int(options.get("zipf", 0))
        self._hwm = 0  # highest offset seen (advanced by latestOffset,
        # re-learned from the offset log via partitions() after restart)

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        self._hwm = min(self._hwm + self.rows_per_batch, self.max_rows)
        return {"row": self._hwm}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["row"], end["row"]
        # Restart path: Spark replans the pending batch with offsets
        # from its log; fold them into the high-water mark so the next
        # latestOffset() continues FROM the committed position instead
        # of restarting at rows_per_batch and re-emitting caught-up rows.
        self._hwm = max(self._hwm, lo, hi)
        n = self.num_partitions
        bounds = [lo + (hi - lo) * i // n for i in range(n + 1)]
        return [
            InputPartition((bounds[i], bounds[i + 1]))
            for i in range(n)
            if bounds[i] < bounds[i + 1]
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        lo, hi = partition.value
        for rid in range(lo, hi):
            # zipf must flow through identically to the batch reader's
            # read(): the drain-parity contract (fully drained stream ==
            # batch read, byte-identical) holds for every option combo.
            yield _row_for(rid, self.seed, self.users, self.zipf)

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up: generation is pure


class JsonLinesSinkDataSource(DataSource):
    """Python DataSource WRITER (the other half of the Spark 4 API): a
    JSON-lines sink where each executor writes its own partition file —
    no driver collection, linear scale-out, exactly the contract a
    custom export connector (feature store, labeling service, vendor
    bulk API) implements. ``overwrite`` clears the directory first; the
    commit protocol returns per-partition row counts as the
    WriterCommitMessage payload.

    Options: ``path`` (required, local/posix directory).
    """

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool) -> "JsonLinesWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("jsonl_sink requires a 'path' option")
        if not overwrite:
            # Append would silently REPLACE same-numbered part files from
            # a previous write (rename is unconditional) — reject rather
            # than lose rows.
            raise ValueError(
                "jsonl_sink supports mode('overwrite') only; append would "
                "clobber prior part files"
            )
        return JsonLinesWriter(path, [f.name for f in schema.fields], overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "JsonLinesStreamWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("jsonl_sink requires a 'path' option")
        return JsonLinesStreamWriter(path, [f.name for f in schema.fields])


class PartitionCount(WriterCommitMessage):
    """Picklable per-partition row-count commit message."""

    def __init__(self, partition_id: int, count: int) -> None:
        self.partition_id = partition_id
        self.count = count


class JsonLinesWriter(DataSourceWriter):
    def __init__(self, path: str, cols: Sequence[str], overwrite: bool) -> None:
        import os
        import shutil

        self.path = path
        self.cols = list(cols)
        if overwrite and os.path.isdir(path):
            shutil.rmtree(path)

    def write(self, iterator: Iterator) -> "WriterCommitMessage":
        import json
        import os
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(self.path, exist_ok=True)
        n = 0
        # attempt-unique tmp name: concurrent speculative attempts of the
        # same partition must not interleave writes into one file
        tmp = os.path.join(
            self.path, f"_tmp-part-{pid:05d}-{ctx.taskAttemptId()}.jsonl"
        )
        with open(tmp, "w") as fh:
            for row in iterator:
                rec = {c: row[i] for i, c in enumerate(self.cols)}
                fh.write(json.dumps(rec, default=str) + "\n")
                n += 1
        # task-level atomicity: rename only on success, so a retried
        # task never leaves a half-written visible file
        os.rename(tmp, os.path.join(self.path, f"part-{pid:05d}.jsonl"))
        return PartitionCount(pid, n)


class JsonLinesStreamWriter(DataSourceStreamWriter):
    """Streaming write half of the Python DataSource API: each
    micro-batch's tasks write attempt-unique tmp files; COMMIT (driver,
    after every task of the batch succeeded) renames them into place as
    part-{batch}-{partition}.jsonl, and ABORT deletes the orphans — the
    same two-phase protocol a real exactly-once export connector
    implements (files named per (batch, partition) make replayed batches
    overwrite their own output instead of duplicating it)."""

    def __init__(self, path: str, cols: Sequence[str]) -> None:
        self.path = path
        self.cols = list(cols)

    def write(self, iterator: Iterator) -> "WriterCommitMessage":
        import json
        import os
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(
            self.path, f"_tmp-stream-{pid:05d}-{ctx.taskAttemptId()}.jsonl"
        )
        n = 0
        with open(tmp, "w") as fh:
            for row in iterator:
                rec = {c: row[i] for i, c in enumerate(self.cols)}
                fh.write(json.dumps(rec, default=str) + "\n")
                n += 1
        return StreamPartFile(pid, tmp, n)

    def commit(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is None:
                continue
            final = os.path.join(
                self.path, f"part-{batchId:05d}-{m.partition_id:05d}.jsonl"
            )
            os.replace(m.tmp_path, final)

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class StreamPartFile(WriterCommitMessage):
    """Picklable (partition, tmp file, row count) commit message."""

    def __init__(self, partition_id: int, tmp_path: str, count: int) -> None:
        self.partition_id = partition_id
        self.tmp_path = tmp_path
        self.count = count


def register(spark) -> None:
    """Register the sources on a session (idempotent)."""
    spark.dataSource.register(SyntheticEventsDataSource)
    spark.dataSource.register(JsonLinesSinkDataSource)
