"""The stream workloads: the Pub/Sub enrichment loop through
``pubsub_dir`` topics, ``SparkPipeline`` and ``DirectorySink``.

One run: set-up (session, load generator publishing the backlog, one
untimed warm-up drain of that backlog), then the timed part:

1. closed drain: a second pipeline, with a fresh checkpoint, drains the
   backlog from its first offset; the phase ends when the batch holding
   the last backlog offset has committed;
2. open loop: that query keeps running while the generator publishes
   at a fixed rate for the run's seconds; each message's latency runs
   from its due time to the return of the sink call for the batch that
   holds it.

Messages are mapped to batches through progress events
(``sources[0].startOffset``/``endOffset`` per batch), never through the
checkpoint's offset log, which keeps only the newest entries.
"""

from __future__ import annotations

import bisect
import datetime as dt
import functools
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass

from .common import (ROOT, WORK, floor_probe, percentile, process_age_s,
                     tail_percentile)
from .payload import enrich, message


@dataclass(frozen=True)
class StreamSpec:
    bulk_limit: int      # messages admitted per trigger
    payload_bytes: int   # JSON size of one message
    backlog: int         # published in set-up, drained closed-loop
    rate: float          # open-loop messages per second


SPECS = {
    # The reference's configuration: 20 messages per pull, ~100 B JSON.
    "pubsub_ref20": StreamSpec(bulk_limit=20, payload_bytes=100,
                               backlog=300, rate=20.0),
    # Wide admission, ~1 KB messages, a topic aged by 4k publishes.  At
    # 85/s a 12 s open loop gives 1020 latency samples, ten beyond p99.
    "pubsub_aged_wide": StreamSpec(bulk_limit=1000, payload_bytes=1000,
                                   backlog=4000, rate=85.0),
}

BASELINE_MAX_MSGS = 1000
READ_CALLS = 10


def _seq(offset: str | None) -> int:
    """Sequence number of a progress offset; the first batch's start
    offset reads "None" (no previous offset), which is sequence 0."""
    if offset in (None, "None", "null"):
        return 0
    return int(json.loads(offset)["seq"])


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts).timestamp()


def _progress_log():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Per-batch progress of the timed query: offsets, row counts,
        Spark's per-phase durations and the commit time."""

        def __init__(self) -> None:
            self.batches: list[dict] = []
            self.cv = threading.Condition()

        def onQueryStarted(self, event) -> None:  # noqa: ANN001
            pass

        def onQueryIdle(self, event) -> None:  # noqa: ANN001
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: ANN001
            pass

        def onQueryProgress(self, event) -> None:  # noqa: ANN001
            p = event.progress
            src = p.sources[0]
            dur = dict(p.durationMs or {})
            start = _epoch(p.timestamp)
            rec = {"query": str(p.id), "batch": p.batchId,
                   "rows": p.numInputRows, "dur": dur, "start": start,
                   "commit": start + dur.get("triggerExecution", 0) / 1e3,
                   "lo": _seq(src.startOffset), "hi": _seq(src.endOffset)}
            with self.cv:
                self.batches.append(rec)
                self.cv.notify_all()

        def wait_offset(self, query, target: int, timeout_s: float) -> dict:
            """The first batch of ``query`` whose end offset reaches
            ``target``; raises if the query dies or time runs out."""
            deadline = time.time() + timeout_s
            qid = str(query.id)
            with self.cv:
                while True:
                    for b in self.batches:
                        if b["query"] == qid and b["hi"] >= target:
                            return b
                    if not query.isActive:
                        raise RuntimeError(
                            f"stream query stopped: {query.exception()}")
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"offset {target} not committed in {timeout_s}s")
                    self.cv.wait(0.05)

    return ProgressLog()


class TimedSink:
    """Wraps the sink under test; records when each batch's call returns."""

    def __init__(self, inner, tracer):
        self.inner = inner
        self.tracer = tracer
        self.returned: dict[int, float] = {}

    def __call__(self, batch_df, epoch_id: int) -> None:
        with self.tracer.span("pipeline.sink_call", batch=epoch_id):
            self.inner(batch_df, epoch_id)
        self.returned[epoch_id] = time.time()


class LoadGen:
    """The generator process and a reader thread for its stdout."""

    def __init__(self, cfg: dict):
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p)
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.loadgen", json.dumps(cfg)],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True)
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line.strip())
        self.lines.put(None)

    def expect(self, word: str, timeout_s: float) -> None:
        try:
            line = self.lines.get(timeout=timeout_s)
        except queue.Empty:
            raise TimeoutError(f"load generator: no '{word}' "
                               f"in {timeout_s}s") from None
        if line != word:
            raise RuntimeError(f"load generator: expected '{word}', "
                               f"got {line!r} (exit {self.proc.poll()})")

    def go(self, t0: float) -> None:
        self.proc.stdin.write(f"go {t0!r}\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait(timeout=30)


@functools.lru_cache(maxsize=None)
def _expected(seed: int, msg_id: int, size: int) -> dict:
    return enrich(message(seed, msg_id, size))


def check_outputs(out_dir: str, seed: int, size: int, ids) -> dict:
    """Read every line the sink wrote; each id must appear exactly once,
    equal to ``enrich`` of the message that was sent."""
    counts: Counter = Counter()
    wrong: set = set()
    for name in sorted(os.listdir(out_dir)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            for line in fh:
                try:
                    got = json.loads(line)
                    msg_id = got["id"]
                    counts[msg_id] += 1
                except (ValueError, KeyError, TypeError):
                    wrong.add(("unparsable", line[:80]))
                    continue
                if got != _expected(seed, msg_id, size):
                    wrong.add(msg_id)
    ids = set(ids)
    missing = ids - set(counts)
    dups = {i for i, c in counts.items() if c > 1}
    unknown = set(counts) - ids
    return {"missing": len(missing), "duplicated": len(dups),
            "wrong": len(wrong), "unknown": len(unknown),
            "failed_ids": len(missing | dups | wrong | unknown)}


def baseline_loop(topic: str, out_topic: str, n: int, seed: int,
                  size: int) -> dict:
    """The reference loop, single-threaded, over the first ``n``
    messages of the topic: pull 20, decode, process and encode each
    message in turn, publish it, advance the offset."""
    from py_pubsub_pipeline_spark.pipeline import (byte_encode_json,
                                                   byte_load_json)
    from py_pubsub_pipeline_spark.sources.pubsub import (
        PubSubDirStreamReader, publish)

    reader = PubSubDirStreamReader({"path": topic, "bulk_limit": 20})
    start, done = {"seq": 0}, 0
    t0 = time.perf_counter()
    while done < n:
        rows, nxt = reader.read(start)
        if nxt == start:
            break  # the topic holds fewer than n messages; the check fails
        for _offset, raw in rows:
            if done == n:
                break
            publish(out_topic, byte_encode_json(enrich(byte_load_json(raw))))
            done += 1
        start = nxt
    wall = time.perf_counter() - t0
    got = []
    for name in sorted(os.listdir(out_topic)):
        if name.endswith(".msg"):
            with open(os.path.join(out_topic, name), "rb") as fh:
                got.append(json.loads(fh.read()))
    ok = sorted(got, key=lambda m: m["id"]) == [
        enrich(message(seed, i, size)) for i in range(n)]
    return {"msgs": n, "wall_s": wall, "msgs_per_s": n / wall, "ok": ok}


def run(workload: str, seed: int, seconds: int, tracer, spark_factory):
    from py_pubsub_pipeline_spark.pipeline import DirectorySink, SparkPipeline
    from py_pubsub_pipeline_spark.sources.pubsub import (
        PubSubDirStreamReader, PubSubStreamSource)

    spec = SPECS[workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    topic = os.path.join(run_dir, "topic")
    n_open = int(spec.rate * seconds)
    gen_out = os.path.join(run_dir, "loadgen.json")
    os.makedirs(run_dir)
    gen = LoadGen({"topic": topic, "seed": seed,
                   "payload_bytes": spec.payload_bytes,
                   "backlog": spec.backlog, "rate": spec.rate,
                   "duration_s": seconds, "out": gen_out})
    queries = []
    try:
        spark, session_s = spark_factory()
        floor_probe(spark)  # the session's first job pays JVM warm-up
        floor_before = floor_probe(spark)
        gen.expect("ready", timeout_s=120)
        log = _progress_log()
        spark.streams.addListener(log)

        def drain(name: str, sink):
            """Start a pipeline with a fresh checkpoint on the topic and
            wait until the batch holding the last backlog offset commits."""
            pipe = SparkPipeline(
                spark=spark,
                source=PubSubStreamSource(topic, bulk_limit=spec.bulk_limit),
                sink=sink, processor=enrich,
                checkpoint_dir=os.path.join(run_dir, f"ckpt-{name}"))
            t0 = time.time()
            query = pipe.process(available_now=False)
            queries.append(query)
            done = log.wait_offset(query, spec.backlog, timeout_s=120)
            return pipe, query, t0, done

        # Warm-up: an untimed drain of the same backlog loads and
        # compiles the Python workers, the data source, the codecs and
        # the sink path.  Without it the timed drain's first wide trigger
        # took twice as long as the later ones.
        warm_out, out = (os.path.join(run_dir, d) for d in ("warm_out", "out"))
        drain("warm", DirectorySink(warm_out))[1].stop()

        setup_s = process_age_s()
        sink = TimedSink(DirectorySink(out), tracer)
        with tracer.span("phase.drain"):
            pipe, query, t_begin, drained = drain("timed", sink)
        t_open = time.time() + 0.2
        with tracer.span("phase.open_loop"):
            gen.go(t_open)
            gen.expect("done", timeout_s=seconds + 60)
            total = spec.backlog + n_open
            last = log.wait_offset(query, total, timeout_s=60)
        t_end = max(last["commit"], time.time())
        query.stop()
        time.sleep(0.2)  # let trailing progress events land

        with open(gen_out) as fh:
            gen_records = json.load(fh)["records"]
        for msg_id, _off, _due, start, dur in gen_records:
            tracer.add("sources.pubsub.publish", start, start + dur,
                       msg=msg_id)

        checks = [check_outputs(warm_out, seed, spec.payload_bytes,
                                range(spec.backlog)),
                  check_outputs(out, seed, spec.payload_bytes, range(total))]

        batches = sorted((b for b in log.batches
                          if b["query"] == drained["query"]
                          and b["hi"] > b["lo"]),
                         key=lambda b: b["batch"])
        latencies = []
        for _msg_id, off, due, _start, _dur in gen_records:
            if due is None:
                continue
            b = next(b for b in batches if b["lo"] <= off < b["hi"])
            latencies.append((sink.returned[b["batch"]] - due) * 1e3)

        if tracer.enabled:
            reader = PubSubDirStreamReader({"path": topic,
                                            "bulk_limit": spec.bulk_limit})
            for k in range(READ_CALLS):
                lo = k * total // READ_CALLS
                with tracer.span("sources.pubsub.read_call", seq=lo):
                    list(reader.read({"seq": lo})[0])

        base = baseline_loop(topic, os.path.join(run_dir, "baseline_out"),
                             min(spec.backlog, BASELINE_MAX_MSGS), seed,
                             spec.payload_bytes)
        floor_after = floor_probe(spark)
        totals = pipe.metrics.totals()
        topic_msgs = sum(1 for f in os.listdir(topic) if f.endswith(".msg"))
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
        gen.close()

    closed_s = drained["commit"] - t_begin
    open_batches = [b for b in batches if b["hi"] > spec.backlog]
    pub_ms = [dur * 1e3 for *_x, dur in gen_records]
    late_ms = [(s - d) * 1e3 for _i, _o, d, s, _dur in gen_records
               if d is not None]
    ends = sorted(s + dur for *_x, s, dur in gen_records)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    dur = [b["dur"] for b in batches]
    trig = [d.get("triggerExecution", 0) for d in dur]
    tail_q = tail_percentile(len(latencies))
    e2e = {
        "setup_s": setup_s,
        "closed_loop_s": closed_s,
        "latency_p50_ms": percentile(latencies, 50),
        "latency_p99_ms": percentile(latencies, 99),
    }
    layers = {
        "session.start_s": session_s,
        "sources.pubsub.publish_ms_p50": percentile(pub_ms, 50),
        "sources.pubsub.publish_ms_p99": percentile(pub_ms, 99),
        "sources.pubsub.publish_calls": len(pub_ms),
        "sources.pubsub.gen_late_ms_p99": percentile(late_ms, 99),
        "sources.pubsub.topic_msgs_end": topic_msgs,
        "sources.pubsub.poll_ms_p50": med([d.get("latestOffset", 0)
                                           for d in dur]),
        "sources.pubsub.read_call_ms": med(
            tracer.durations_ms("sources.pubsub.read_call")),
        "sources.pubsub.backlog_max_msgs": max(
            (bisect.bisect_right(ends, b["start"]) - b["lo"]
             for b in open_batches),
            default=0),
        "pipeline.trigger_ms_p50": med(trig),
        "pipeline.trigger_ms_p99": percentile(trig, 99),
        "pipeline.planning_ms_p50": med([d.get("queryPlanning", 0)
                                         for d in dur]),
        "pipeline.wal_ms_p50": med([d.get("walCommit", 0) for d in dur]),
        "pipeline.commit_ms_p50": med([d.get("commitOffsets", 0)
                                       for d in dur]),
        "pipeline.batches": len(batches),
        "pipeline.sink_call_ms_p50": med(
            tracer.durations_ms("pipeline.sink_call")),
        "pipeline.rows_per_batch_p50": med([b["rows"] for b in batches]),
        "pipeline.busy_frac": sum(trig) / 1e3 / (t_end - t_begin),
        "pipeline.rows_in": totals["rows_in"],
        "pipeline.rows_out": totals["rows_out"],
        "pipeline.rows_dlq": totals["rows_dlq"],
        "queries.floor_s": floor_before,
    }
    attempted = spec.backlog + total
    failed = sum(c["failed_ids"] for c in checks)
    context = {
        "spec": spec.__dict__, "open_loop_msgs": n_open,
        "drain_msgs_per_s": spec.backlog / closed_s,
        "latency_samples": len(latencies),
        "latency_tail_percentile": tail_q,
        "latency_tail_ms": (percentile(latencies, tail_q)
                            if tail_q else None),
        "latency_p95_ms": percentile(latencies, 95),
        "checks": checks, "baseline": base,
        "batches": [{**b, "sink_returned": sink.returned.get(b["batch"])}
                    for b in batches],
        "floor_before_s": floor_before, "floor_after_s": floor_after,
        "failed_frac": failed / attempted,
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"attempted": attempted, "failed": failed,
            "correct": failed == 0 and base["ok"],
            "end_to_end": e2e, "per_layer": layers, "context": context}
