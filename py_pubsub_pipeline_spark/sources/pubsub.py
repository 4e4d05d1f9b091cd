"""Pub/Sub-style streaming source + sink as a PySpark Python DataSource.

Emulates the reference's transport (SURVEY.md §2A R1-R4, R9-R10) on a
durable local 'broker': a topic is a directory, a message is an
atomically-published sequenced file. The reader is offset-tracked and
replayable — Spark's checkpoint/WAL supplies the ack ledger the
reference keeps in Pub/Sub (ack_id, P:42-47):

- R1 pull loop           -> SimpleDataSourceStreamReader.read(start):
                            list files >= start offset
- R2 bulk_limit cap      -> 'bulk_limit' option caps each micro-batch
                            (default 20, mirroring P:68)
- R3 empty-poll retry    -> return an empty batch; the trigger loop
                            polls again (no recursion, P:201-203's
                            stack hazard gone)
- R4 retry/backoff       -> IOErrors surface to Spark's task retry +
                            restart-from-checkpoint machinery
- R9 publish             -> DataSourceStreamWriter: stage rows per
                            task, atomic rename at commit(batchId)
- R10 ack-after-publish  -> Spark commits the batch to the checkpoint
                            only after commit() returns; abort() leaves
                            nothing visible. Published-then-crashed
                            batches re-publish on restart => the same
                            at-least-once duplicate window as the
                            reference (P:48-52), stated in README.

In production the same class shape points at real Pub/Sub: read(start)
becomes subscriber.pull(max_messages=bulk_limit) and commit() the
publisher flush; this file keeps the transport local so the entire
delivery contract is testable hermetically (SURVEY.md §5.1's mock
strategy, minus the mocks).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

SCHEMA = StructType(
    [
        StructField("offset", LongType()),
        StructField("value", BinaryType()),
    ]
)

_SEQ_WIDTH = 12


def _msg_name(seq: int) -> str:
    return f"{seq:0{_SEQ_WIDTH}d}.msg"


def _end_seq(topic_dir: str) -> int:
    """One past the highest published seq: the next free seq to try,
    and the exclusive end of the readable range.  One directory
    listing; 0 when the topic directory does not exist."""
    try:
        names = os.listdir(topic_dir)
    except (FileNotFoundError, NotADirectoryError):
        return 0
    seqs = [int(f[:_SEQ_WIDTH]) for f in names if f.endswith(".msg")]
    return max(seqs, default=-1) + 1


def _claim_seq(topic_dir: str, staged_path: str, seq_hint: int) -> int:
    """Atomically claim the next free sequence number for staged_path.

    os.link() to the final name fails with EEXIST if another publisher
    claimed that seq — we retry with the next one. The old
    max+1-then-rename scheme let two concurrent publishers pick the
    same seq and rename() silently OVERWROTE the loser's message on
    the 'durable' broker; link() never clobbers.
    """
    seq = seq_hint
    while True:
        target = os.path.join(topic_dir, _msg_name(seq))
        try:
            os.link(staged_path, target)
        except FileExistsError:
            seq += 1
            continue
        os.remove(staged_path)
        return seq


def publish(topic_dir: str, payload: bytes) -> int:
    """Atomically publish one message; returns its offset. (The
    TestClient.publish analog, /root/reference/test_client.py:29-31.)
    Safe under concurrent publishers: the seq is claimed with an
    atomic link(), not a clobbering rename."""
    os.makedirs(topic_dir, exist_ok=True)
    tmp = os.path.join(topic_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as f:
        f.write(payload)
    return _claim_seq(topic_dir, tmp, _end_seq(topic_dir))


def _read_range(topic_dir: str, start: int, end: int) -> Iterator[tuple]:
    # Must be a *list iterator*: the simple-reader wrapper both calls
    # next() on it and pickles/copies it into the prefetch cache for
    # replay — list iterators support both, generators support neither.
    out = []
    for seq in range(start, end):
        path = os.path.join(topic_dir, _msg_name(seq))
        with open(path, "rb") as f:
            out.append((seq, f.read()))
    return iter(out)


# Test-client fault marker: publish this file into a topic dir and the
# next reader poll consumes it and raises IOError — the hermetic stand-
# in for a transient broker outage (SURVEY §5.1 mock strategy).
FAULT_MARKER = ".inject_ioerror"


class PubSubDirStreamReader(SimpleDataSourceStreamReader):
    """R4 retry policy mirrors the reference (pubsub_pipeline.py:71-72,
    204-211): a transient broker error during the pull either retries
    in place after `retry_wait_secs` (up to `max_retries`, the
    DeadlineExceeded-swallowing default posture) or — with
    `respect_deadline=true` — surfaces immediately, handing recovery
    to Spark's task retry + restart-from-checkpoint machinery."""

    def __init__(self, options: dict):
        self.topic_dir = options["path"]
        self.bulk_limit = int(options.get("bulk_limit", 20))
        self.max_retries = int(options.get("max_retries", 3))
        self.retry_wait_secs = float(options.get("retry_wait_secs", 0.1))
        self.respect_deadline = (
            str(options.get("respect_deadline", "false")).lower() == "true"
        )

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def _latest_seq(self) -> int:
        marker = os.path.join(self.topic_dir, FAULT_MARKER)
        if os.path.exists(marker):
            os.remove(marker)  # one-shot: consumed on first poll
            raise IOError("injected broker fault (test client marker)")
        return _end_seq(self.topic_dir)

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        import time

        lo = start["seq"]
        attempt = 0
        while True:
            try:
                hi = min(self._latest_seq(), lo + self.bulk_limit)  # R2 cap
                if hi <= lo:
                    return iter([]), start  # R3: empty poll, re-polls
                return _read_range(self.topic_dir, lo, hi), {"seq": hi}
            except OSError:
                if self.respect_deadline or attempt >= self.max_retries:
                    raise  # surface to Spark retry/restart (R4 strict)
                attempt += 1
                time.sleep(self.retry_wait_secs)  # R4 backoff, then re-pull

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        # Replay for recovery — messages are durable, offsets contiguous.
        return _read_range(self.topic_dir, start["seq"], end["seq"])


@dataclass
class _Staged(WriterCommitMessage):
    files: tuple[str, ...] = ()


class PubSubDirStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict):
        self.topic_dir = options["path"]
        self.stage_dir = os.path.join(self.topic_dir, ".staging")

    def write(self, iterator: Iterator) -> _Staged:
        os.makedirs(self.stage_dir, exist_ok=True)
        staged = []
        for row in iterator:
            p = os.path.join(self.stage_dir, uuid.uuid4().hex)
            with open(p, "wb") as f:
                f.write(bytes(row.value))
            staged.append(p)
        return _Staged(files=tuple(staged))

    def commit(self, messages: list[_Staged], batch_id: int) -> None:
        # Publish-before-ack: this runs before Spark writes the batch
        # commit to the checkpoint (R10 ordering).
        os.makedirs(self.topic_dir, exist_ok=True)
        seq = _end_seq(self.topic_dir)
        for m in messages:
            for path in m.files:
                # Atomic claim: never overwrites a concurrent external
                # publish racing this commit (see _claim_seq).
                seq = _claim_seq(self.topic_dir, path, seq) + 1

    def abort(self, messages: list[_Staged], batch_id: int) -> None:
        for m in messages:
            for path in m.files:
                try:
                    os.remove(path)
                except OSError:
                    pass


class PubSubDirBatchReader(DataSourceReader):
    """Batch BACKFILL/REPLAY path: read a topic's full durable history
    (or an offset range) as a bounded DataFrame — the ops story for
    reprocessing a topic through a fixed pipeline without standing up
    a stream. Partitioned by contiguous offset ranges so the replay
    parallelizes across executors; each partition opens only its own
    message files."""

    N_SLICES = 8

    def __init__(self, options: dict):
        self.topic_dir = options["path"]
        self.start = int(options.get("start_offset", 0))
        end = options.get("end_offset")
        self.end = int(end) if end is not None else _end_seq(self.topic_dir)

    def partitions(self):  # noqa: ANN201
        from pyspark.sql.datasource import InputPartition

        total = max(0, self.end - self.start)
        if total == 0:
            return [InputPartition((self.start, self.start))]
        step = max(1, total // self.N_SLICES)
        bounds = list(range(self.start, self.end, step)) + [self.end]
        return [
            InputPartition((lo, hi))
            for lo, hi in zip(bounds, bounds[1:])
        ]

    def read(self, partition) -> Iterator[tuple]:  # noqa: ANN001
        lo, hi = partition.value
        return _read_range(self.topic_dir, lo, hi)


class PubSubDirDataSource(DataSource):
    """spark.readStream.format("pubsub_dir").option("path", topic)
    / df.writeStream.format("pubsub_dir").option("path", topic)
    / spark.read.format("pubsub_dir").option("path", topic)  (backfill).

    Register once per session:
        spark.dataSource.register(PubSubDirDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return "pubsub_dir"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> PubSubDirBatchReader:
        return PubSubDirBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> PubSubDirStreamReader:
        return PubSubDirStreamReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> PubSubDirStreamWriter:
        return PubSubDirStreamWriter(self.options)


class PubSubClientStreamReader(SimpleDataSourceStreamReader):
    """The REAL-TRANSPORT seam, made concrete: the same reader contract
    as PubSubDirStreamReader, but against an INJECTED client object
    with google-cloud-pubsub-shaped signatures — the mapping the module
    header documents, as code instead of prose:

        read(start)   -> client.pull(subscription=...,
                                     max_messages=bulk_limit)
                         (reference P:195-200's wait_for_messages)
        commit(end)   -> client.acknowledge(subscription=...,
                                            ack_ids=[...])
                         (reference P:37-52's Acknowledger — Spark
                         calls reader.commit only AFTER the batch's
                         sink commit, so ack-after-publish ordering
                         (P:82-84) is engine-guaranteed)

    Offsets are synthetic and contiguous (Pub/Sub has no offsets; the
    ack ledger is the broker's); pulled-but-unacked payloads are
    retained for readBetweenOffsets replay, mirroring the broker's
    redelivery window, and dropped once acked.  Proven hermetically in
    tests/test_pubsub_source.py against an in-memory fake exposing the
    real client surface — no network, no emulator (SURVEY §5.1's mock
    strategy applied to the transport seam)."""

    def __init__(self, client, subscription: str, bulk_limit: int = 20):
        self.client = client
        self.subscription = subscription
        self.bulk_limit = bulk_limit
        self._pending: dict[int, str] = {}    # offset -> ack_id
        self._replay: dict[int, bytes] = {}   # offset -> unacked payload

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = start["seq"]
        resp = self.client.pull(
            subscription=self.subscription, max_messages=self.bulk_limit
        )
        msgs = list(resp.received_messages)[: self.bulk_limit]  # R2 cap
        if not msgs:
            return iter([]), start  # R3: empty poll, trigger re-polls
        rows = []
        for i, m in enumerate(msgs):
            off = lo + i
            self._pending[off] = m.ack_id
            self._replay[off] = m.message.data
            rows.append((off, m.message.data))
        return iter(rows), {"seq": lo + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        # Recovery replay from the unacked retention window (the
        # broker's redelivery contract keeps these alive until ack).
        return [
            (off, self._replay[off])
            for off in range(start["seq"], end["seq"])
            if off in self._replay
        ]

    def commit(self, end: dict) -> None:
        # Runs only after the sink's batch commit: the R10 ordering.
        acked = sorted(o for o in self._pending if o < end["seq"])
        if not acked:
            return
        self.client.acknowledge(
            subscription=self.subscription,
            ack_ids=[self._pending[o] for o in acked],
        )
        for o in acked:
            del self._pending[o]
            self._replay.pop(o, None)


class PubSubStreamSource:
    """pipeline.SparkPipeline-compatible source wrapper (same duck type
    as FileStreamSource): value BINARY out of a pubsub_dir topic."""

    # The simple stream reader prefetches each micro-batch on the
    # driver as one partition of at most bulk_limit rows, so
    # SparkPipeline runs a Python processor there rather than shipping
    # the batch to a Python worker.
    driver_resident = True

    def __init__(
        self,
        topic_dir: str,
        bulk_limit: int = 20,
        max_retries: int = 3,
        retry_wait_secs: float = 0.1,
        respect_deadline: bool = False,
    ):
        self.topic_dir = topic_dir
        self.bulk_limit = bulk_limit
        self.max_retries = max_retries
        self.retry_wait_secs = retry_wait_secs
        self.respect_deadline = respect_deadline

    def read_stream(self, spark):
        from ..session import ensure_package_on_workers

        ensure_package_on_workers(spark)
        spark.dataSource.register(PubSubDirDataSource)
        return (
            spark.readStream.format("pubsub_dir")
            .option("path", self.topic_dir)
            .option("bulk_limit", self.bulk_limit)
            .option("max_retries", self.max_retries)
            .option("retry_wait_secs", self.retry_wait_secs)
            .option("respect_deadline", str(self.respect_deadline).lower())
            .load()
            .select("value")
        )
