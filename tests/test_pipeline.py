"""Ports of the reference's three delivery-semantics tests
(/root/reference/test_pubsub_pipeline.py, SURVEY.md §5.2-2) onto the
Structured-Streaming pipeline core, plus bulk-variant contract tests.
"""

from __future__ import annotations

import json
import os
import uuid
from collections import Counter

import pytest

from py_pubsub_pipeline_spark.pipeline import (
    CollectingSink,
    DirectorySink,
    FileStreamSource,
    IdempotentParquetSink,
    SparkPipeline,
)
from py_pubsub_pipeline_spark.sources.pubsub import PubSubStreamSource, publish

MSG = {"data": "someData", "nested": {"nestedData": "someNestedData"}}  # T:28-34

# The two processor placements: FileStreamSource runs the processor on
# executors (mapInPandas), PubSubStreamSource on the driver.
SOURCES = ["file", "pubsub"]


def _drop(dirpath: str, n: int, start: int = 0) -> None:
    os.makedirs(dirpath, exist_ok=True)
    for i in range(start, start + n):
        with open(os.path.join(dirpath, f"msg_{i:05d}.json"), "w") as f:
            f.write(json.dumps({**MSG, "i": i}) + "\n")


def _source(kind: str, dirpath: str, n: int, poison: bytes | None = None):
    """n messages {**MSG, "i": i}, then ``poison`` if given, on a
    drop directory (kind "file") or a pubsub_dir topic ("pubsub")."""
    if kind == "file":
        _drop(dirpath, n)
        if poison is not None:
            with open(os.path.join(dirpath, "msg_zz_bad.json"), "wb") as f:
                f.write(poison + b"\n")
        return FileStreamSource(dirpath)
    for i in range(n):
        publish(dirpath, json.dumps({**MSG, "i": i}).encode())
    if poison is not None:
        publish(dirpath, poison)
    return PubSubStreamSource(dirpath)


def _pipeline(spark, tmp, sink, processor=None, bulk=False, source=None,
              **kw):
    return SparkPipeline(
        spark=spark,
        source=source or FileStreamSource(os.path.join(tmp, "in")),
        sink=sink,
        processor=processor,
        bulk=bulk,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        **kw,
    )


def test_message_processed_and_committed_on_success(spark, tmp_path):
    """T:56-83: payload round-trips through processor to the sink, and
    the batch is committed (offsets advance) only after the sink ran."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 3)
    sink = CollectingSink()
    _pipeline(spark, tmp, sink, processor=lambda m: {**m, "enriched": True}).process()

    assert len(sink.rows) == 3
    out = sorted((json.loads(bytes(r)) for r in sink.rows), key=lambda d: d["i"])
    assert all(d["enriched"] and d["nested"]["nestedData"] == "someNestedData"
               for d in out)
    commits = os.listdir(os.path.join(tmp, "ckpt", "commits"))
    assert commits, "offsets must be committed after a successful sink write"


def test_message_not_committed_on_sink_failure_then_redelivered(spark, tmp_path):
    """T:87-104: sink failure => no commit => the same messages are
    redelivered to the next run (at-least-once)."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 2)

    with pytest.raises(Exception, match="sink failure"):
        _pipeline(spark, tmp, CollectingSink(fail=True)).process()

    ckpt_commits = os.path.join(tmp, "ckpt", "commits")
    assert not os.path.exists(ckpt_commits) or not os.listdir(ckpt_commits)

    sink = CollectingSink()
    _pipeline(spark, tmp, sink).process()
    assert len(sink.rows) == 2, "failed batch must be fully reprocessed"


def test_idle_source_then_data_arrives(spark, tmp_path):
    """T:108-143 analog: an empty source completes cleanly (the
    scheduler owns the retry loop — no unbounded recursion as in
    P:201-203), and a later run picks up newly arrived data."""
    tmp = str(tmp_path)
    os.makedirs(os.path.join(tmp, "in"), exist_ok=True)
    sink = CollectingSink()
    _pipeline(spark, tmp, sink).process()
    assert sink.rows == []

    _drop(os.path.join(tmp, "in"), 2)
    _pipeline(spark, tmp, sink).process()
    assert len(sink.rows) == 2


def test_idempotent_sink_survives_replay_without_duplicates(spark, tmp_path):
    """Effectively-once (R10 upgrade): simulate the at-least-once
    failure window — batch published, offset commit LOST — by deleting
    the checkpoint's commit record and re-running. The batch replays
    with the SAME batch id; the id-keyed overwrite sink absorbs the
    replay, so output rows appear exactly once."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 3)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    ckpt = os.path.join(tmp, "ckpt")

    def run():
        SparkPipeline(
            spark=spark,
            source=FileStreamSource(os.path.join(tmp, "in")),
            sink=sink,
            processor=lambda m: {"i": m["i"]},
            checkpoint_dir=ckpt,
        ).process()

    run()
    first = sorted(
        json.loads(bytes(r["value"]))["i"]
        for r in sink.read_all(spark).collect()
    )
    assert first == [0, 1, 2]

    # Crash window: publish happened, commit lost -> replay on restart.
    # (Remove the .crc shadows too: a stale checksum next to a missing
    # log entry reads as concurrent checkpoint use, not a lost commit.)
    commits = os.path.join(ckpt, "commits")
    for f in os.listdir(commits):
        os.remove(os.path.join(commits, f))
    run()
    replayed = sorted(
        json.loads(bytes(r["value"]))["i"]
        for r in sink.read_all(spark).collect()
    )
    assert replayed == [0, 1, 2], "replayed batch must overwrite, not append"


def test_metrics_listener_reports_per_batch_rows_and_commit(spark, tmp_path):
    """R13 observability (reference per-stage logs P:143-184): the
    pipeline's StreamingQueryListener must report, per micro-batch,
    rows pulled, rows published (via the observe() hook — foreachBatch
    sinks have no native output metric), stage durations, and the
    run's commit status."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 5)
    sink = CollectingSink()
    pipe = _pipeline(spark, tmp, sink, processor=lambda m: m)
    pipe.process()

    totals = pipe.metrics.totals()
    assert totals["rows_in"] == 5, pipe.metrics.batches
    assert totals["rows_out"] == 5, pipe.metrics.batches
    assert totals["batches"] >= 1
    for b in pipe.metrics.batches:
        assert "addBatch" in b["duration_ms"], b
    assert pipe.metrics.terminated is not None
    assert pipe.metrics.terminated["committed"] is True


def test_metrics_listener_marks_failed_run_uncommitted(spark, tmp_path):
    """Sink failure => terminated event carries the exception and
    committed=False — the operator-facing signal that the batch will
    be redelivered."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 2)
    pipe = _pipeline(spark, tmp, CollectingSink(fail=True))
    with pytest.raises(Exception, match="sink failure"):
        pipe.process()
    assert pipe.metrics.terminated is not None
    assert pipe.metrics.terminated["committed"] is False
    assert "sink failure" in (pipe.metrics.terminated["exception"] or "")


@pytest.mark.parametrize("kind", SOURCES)
def test_bulk_processor_one_call_per_batch(spark, tmp_path, kind):
    """BulkPubSubPipeline parity (P:214-242): processor receives the
    whole batch as a list and returns a same-length list."""
    tmp = str(tmp_path)

    def bulk_proc(batch):
        # record the batch size each call saw (closure state would stay
        # on the executor — emit it through the data instead)
        return [{"n": len(batch), "i": m["i"]} for m in batch]

    sink = CollectingSink()
    _pipeline(spark, tmp, sink, processor=bulk_proc, bulk=True,
              source=_source(kind, os.path.join(tmp, "in"), 4)).process()
    out = sorted((json.loads(bytes(r)) for r in sink.rows), key=lambda d: d["i"])
    assert [d["i"] for d in out] == [0, 1, 2, 3]
    assert all(d["n"] >= 1 for d in out)
    # every message was covered by exactly the calls that reported it:
    assert sum(1.0 / d["n"] for d in out) <= 4.0


@pytest.mark.parametrize("kind", SOURCES)
def test_bulk_length_mismatch_raises(spark, tmp_path, kind):
    """Divergence from P:232 (silent zip truncation): a bulk processor
    returning the wrong cardinality fails loudly."""
    tmp = str(tmp_path)
    with pytest.raises(Exception, match="bulk processor returned"):
        _pipeline(
            spark, tmp, CollectingSink(), processor=lambda b: b[:-1], bulk=True,
            source=_source(kind, os.path.join(tmp, "in"), 3),
        ).process()


@pytest.mark.parametrize("kind", SOURCES)
def test_dead_letter_quarantines_poison_and_batch_commits(
    spark, tmp_path, kind
):
    """A malformed message must not stall the stream: with
    dead_letter_dir set, the poison row is quarantined (original
    payload + error + batch id, durable BEFORE the sink runs), the
    good rows publish, and the batch COMMITS — the stream
    progresses."""
    tmp = str(tmp_path)
    dlq = os.path.join(tmp, "dlq")
    sink = CollectingSink()
    pipe = _pipeline(
        spark, tmp, sink, processor=lambda m: {**m, "ok": True},
        source=_source(kind, os.path.join(tmp, "in"), 4,
                       poison=b"{not valid json!"),
        dead_letter_dir=dlq,
    )
    pipe.process()

    assert sorted(json.loads(bytes(r))["i"] for r in sink.rows) == [0, 1, 2, 3]
    quarantined = spark.read.parquet(dlq).collect()
    assert len(quarantined) == 1
    assert bytes(quarantined[0]["value"]) == b"{not valid json!"
    assert "JSONDecodeError" in quarantined[0]["error"]
    assert quarantined[0]["batch_id"] in {
        b["batch_id"] for b in pipe.metrics.batches}
    assert spark.read.parquet(dlq).dtypes == [
        ("value", "binary"), ("error", "string"), ("batch_id", "int")]
    commits = os.listdir(os.path.join(tmp, "ckpt", "commits"))
    assert commits, "batch with quarantined poison must still commit"
    assert pipe.metrics.totals()["rows_dlq"] == 1
    assert pipe.metrics.totals()["rows_out"] == 4


@pytest.mark.parametrize("kind", SOURCES)
def test_dead_letter_isolates_poison_in_bulk_processor(spark, tmp_path, kind):
    """Bulk path: the whole-batch call fails on the poison message, the
    pipeline falls back to per-message calls (singleton lists — same
    bulk contract), quarantining exactly the failing one."""
    tmp = str(tmp_path)
    dlq = os.path.join(tmp, "dlq")

    def bulk_proc(batch):
        if any(m["i"] == 2 for m in batch):
            raise RuntimeError("poison payload i=2")
        return [{"i": m["i"]} for m in batch]

    sink = CollectingSink()
    _pipeline(spark, tmp, sink, processor=bulk_proc, bulk=True,
              source=_source(kind, os.path.join(tmp, "in"), 4),
              dead_letter_dir=dlq).process()

    assert sorted(json.loads(bytes(r))["i"] for r in sink.rows) == [0, 1, 3]
    bad = spark.read.parquet(dlq).collect()
    assert len(bad) == 1
    assert json.loads(bytes(bad[0]["value"]))["i"] == 2
    assert "poison payload" in bad[0]["error"]


def test_column_processor_fast_path(spark, tmp_path):
    """The Spark-first path: a Column-expression transform on the
    decoded frame (Catalyst-visible, no Python in the loop)."""
    from pyspark.sql import functions as F

    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 3)

    def col_proc(df):
        parsed = F.from_json(
            F.col("value").cast("string"),
            "data STRING, nested STRUCT<nestedData: STRING>, i LONG",
        )
        return df.select(
            F.to_json(
                F.struct(
                    parsed.getField("i").alias("i"),
                    F.upper(parsed.getField("data")).alias("data_up"),
                )
            )
            .cast("binary")
            .alias("value")
        )

    sink = CollectingSink()
    SparkPipeline(
        spark=spark,
        source=FileStreamSource(os.path.join(tmp, "in")),
        sink=sink,
        column_processor=col_proc,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
    ).process()
    out = sorted((json.loads(bytes(r)) for r in sink.rows), key=lambda d: d["i"])
    assert [d["data_up"] for d in out] == ["SOMEDATA"] * 3


@pytest.mark.parametrize("kind", SOURCES)
def test_processor_runs_where_the_batch_lives(spark, tmp_path, capsys, kind):
    """PubSubStreamSource batches are already on the driver: the
    processor runs in the driver process and the micro-batch plan has
    no MapInPandas node.  FileStreamSource batches run the processor
    in a Python worker through mapInPandas."""
    tmp = str(tmp_path)
    sink = CollectingSink()
    query = _pipeline(
        spark, tmp, sink, processor=lambda m: {"i": m["i"], "pid": os.getpid()},
        source=_source(kind, os.path.join(tmp, "in"), 3),
    ).process()

    out = [json.loads(bytes(r)) for r in sink.rows]
    assert sorted(d["i"] for d in out) == [0, 1, 2]
    on_driver = {d["pid"] == os.getpid() for d in out}
    query.explain()
    plan = capsys.readouterr().out
    assert "Scan" in plan, plan
    if kind == "pubsub":
        assert on_driver == {True}
        assert "MapInPandas" not in plan, plan
    else:
        assert on_driver == {False}
        assert "MapInPandas" in plan, plan


def test_metrics_are_scoped_to_their_own_query(spark, tmp_path):
    """Two pipelines in one session keep separate totals: a continuous
    pipeline's listener ignores another query's batches, and it
    unregisters itself once its own query terminates."""
    import time

    tmp = str(tmp_path)
    listeners = spark.streams._jsqm.listListeners
    n_listeners = len(listeners())
    first = SparkPipeline(
        spark=spark,
        source=_source("pubsub", os.path.join(tmp, "in1"), 3),
        sink=CollectingSink(),
        checkpoint_dir=os.path.join(tmp, "ckpt1"),
    )
    query = first.process(available_now=False)
    try:
        query.processAllAvailable()
        second = SparkPipeline(
            spark=spark,
            source=_source("file", os.path.join(tmp, "in2"), 5),
            sink=CollectingSink(),
            checkpoint_dir=os.path.join(tmp, "ckpt2"),
        )
        second.process()
        assert second.metrics.totals()["rows_in"] == 5
        assert second.metrics.totals()["rows_out"] == 5
        assert len(listeners()) == n_listeners + 1
    finally:
        query.stop()
    deadline = time.time() + 10
    while first.metrics.terminated is None and time.time() < deadline:
        time.sleep(0.1)
    assert first.metrics.terminated is not None
    assert first.metrics.totals()["rows_in"] == 3, first.metrics.batches
    assert first.metrics.totals()["rows_out"] == 3, first.metrics.batches
    assert {b["query_id"] for b in first.metrics.batches} == {str(query.id)}
    while len(listeners()) != n_listeners and time.time() < deadline:
        time.sleep(0.1)
    assert len(listeners()) == n_listeners


# ------------------------------------------------- DirectorySink write paths


class _JobCountingSink:
    """Calls ``inner`` under a job group of its own and records how
    many Spark jobs each call started."""

    _PROPS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")

    def __init__(self, inner):
        self.inner = inner
        self.jobs: list[int] = []

    def __call__(self, batch_df, epoch_id):
        sc = batch_df.sparkSession.sparkContext
        saved = {k: sc.getLocalProperty(k) for k in self._PROPS}
        group = f"sink-{uuid.uuid4()}"
        sc.setJobGroup(group, "sink call")
        try:
            self.inner(batch_df, epoch_id)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        self.jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _out_files(out: str) -> list[str]:
    return sorted(os.listdir(out)) if os.path.isdir(out) else []


def _out_lines(out: str) -> Counter:
    """Every line the sink published, as raw bytes, counted."""
    lines: Counter = Counter()
    for name in _out_files(out):
        if not name.startswith((".", "_")):
            with open(os.path.join(out, name), "rb") as fh:
                lines.update(fh.read().splitlines())
    return lines


@pytest.mark.parametrize("kind", SOURCES)
def test_directory_sink_runs_no_spark_job_for_a_driver_batch(
    spark, tmp_path, kind
):
    """A driver-path batch reaches DirectorySink as a local frame and
    is written by the driver: the sink call starts no Spark job.  An
    executor-path batch still goes through Spark's text write."""
    tmp = str(tmp_path)
    sink = _JobCountingSink(DirectorySink(os.path.join(tmp, "out")))
    _pipeline(spark, tmp, sink,
              source=_source(kind, os.path.join(tmp, "in"), 3)).process()

    assert sum(_out_lines(os.path.join(tmp, "out")).values()) == 3
    assert sink.jobs, "the sink was never called"
    if kind == "pubsub":
        assert sink.jobs == [0] * len(sink.jobs)
    else:
        assert all(n >= 1 for n in sink.jobs), sink.jobs


def test_directory_sink_one_part_file_per_driver_batch(spark, tmp_path):
    """Each non-empty driver-path batch becomes one whole part file;
    no dot-prefixed temporary file and no _SUCCESS marker are left."""
    tmp = str(tmp_path)
    out = os.path.join(tmp, "out")
    _source("pubsub", os.path.join(tmp, "in"), 7)
    pipe = _pipeline(spark, tmp, DirectorySink(out), source=PubSubStreamSource(
        os.path.join(tmp, "in"), bulk_limit=3))
    pipe.process()

    non_empty = [b for b in pipe.metrics.batches if b["rows_out"]]
    assert len(non_empty) == 3, pipe.metrics.batches
    files = _out_files(out)
    assert len(files) == 3 and all(
        f.startswith("part-") and f.endswith(".txt") for f in files), files
    assert sorted(json.loads(line)["i"] for line in _out_lines(out)) == list(
        range(7))


def test_directory_sink_driver_and_spark_writes_publish_the_same_lines(
    spark, tmp_path
):
    """For the same payloads (one of them non-ASCII UTF-8), the
    driver-side write and Spark's text write publish the same multiset
    of lines; the Spark write still leaves _SUCCESS."""
    tmp = str(tmp_path)
    outs = {}
    for kind in SOURCES:
        base = os.path.join(tmp, kind)
        out = os.path.join(base, "out")
        _pipeline(
            spark, base, DirectorySink(out),
            processor=lambda m: {**m, "name": "Zoë ✓"},
            result_serializer=lambda r: json.dumps(
                r, ensure_ascii=False).encode("utf-8"),
            source=_source(kind, os.path.join(base, "in"), 4),
        ).process()
        outs[kind] = out

    lines = _out_lines(outs["pubsub"])
    assert sum(lines.values()) == 4
    assert all("Zoë ✓".encode() in line for line in lines)
    assert lines == _out_lines(outs["file"])
    assert "_SUCCESS" in _out_files(outs["file"])
    assert "_SUCCESS" not in _out_files(outs["pubsub"])


def test_directory_sink_all_dead_lettered_batch_writes_nothing(
    spark, tmp_path
):
    """A driver-path batch whose every message is quarantined hands the
    sink an empty frame: no part file is written and the batch still
    commits."""
    tmp = str(tmp_path)
    topic = os.path.join(tmp, "in")
    for _ in range(2):
        publish(topic, b"{not valid json!")
    out, dlq = os.path.join(tmp, "out"), os.path.join(tmp, "dlq")
    pipe = _pipeline(spark, tmp, DirectorySink(out),
                     source=PubSubStreamSource(topic), dead_letter_dir=dlq)
    pipe.process()

    assert _out_files(out) == []
    assert spark.read.parquet(dlq).count() == 2
    assert os.listdir(os.path.join(tmp, "ckpt", "commits"))
    assert pipe.metrics.totals()["rows_out"] == 0


def test_directory_sink_failed_local_write_is_not_committed(spark, tmp_path):
    """If the driver-side write fails (the sink path is a regular
    file), the batch is not committed and is redelivered whole on the
    next run."""
    tmp = str(tmp_path)
    out = os.path.join(tmp, "out")
    with open(out, "w") as fh:
        fh.write("not a directory")
    source = _source("pubsub", os.path.join(tmp, "in"), 3)

    with pytest.raises(Exception, match="File exists"):
        _pipeline(spark, tmp, DirectorySink(out), source=source).process()
    commits = os.path.join(tmp, "ckpt", "commits")
    assert not os.path.exists(commits) or not os.listdir(commits)

    os.remove(out)
    _pipeline(spark, tmp, DirectorySink(out), source=source).process()
    assert sorted(json.loads(line)["i"] for line in _out_lines(out)) == [
        0, 1, 2]
