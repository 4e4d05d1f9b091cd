"""Benchmark of the Pub/Sub enrichment pipeline and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (why each was chosen is in BENCHMARK.json):

- ``pubsub_ref20``: bulk_limit=20, ~100 B messages, fresh topic.  A
  300-message backlog is drained closed-loop, then messages arrive
  open-loop at 20/s for S seconds.
- ``pubsub_aged_wide``: bulk_limit=1000, ~1 KB messages.  Set-up ages
  the topic with 4000 publishes and drains them once to warm up; the
  timed part drains them again with a fresh checkpoint, then messages
  arrive open-loop at 85/s for S seconds on the growing topic.
- ``registry_batch``: the 13 ``bench.HEADLINE`` keys at sf0.1, one
  client, closed loop, each key through the ``noop`` sink.

End-to-end metrics (``--trace 0``), all lower-is-better, printed for
every workload:

- ``setup_s``: process start until timing begins.
- ``closed_loop_s``: the closed-loop phase.  Streams: from the timed
  pipeline's start until the batch holding the last backlog offset
  commits.  Registry: the sum over the 13 keys of each key's best wall
  over the run's passes (at least two, more while the run's S seconds
  last).
- ``latency_p50_ms`` / ``latency_p99_ms``: per request.  Streams: per
  open-loop message, from its due publish time to the return of the
  sink call for its batch (85/s for 12 s gives 1020 samples, so ten lie
  beyond p99).  Registry: one request is one pass over the basket; with
  two passes p50 is their mean and p99 nearly the slower one.

Peak memory (``memory.peak_pss_mb``: summed PSS of this Python process,
the JVM, Python workers and the load generator, sampled from /proc every
0.2 s, in traced runs only) is a per-layer metric: the JVM grows its
heap lazily, so on ``registry_batch`` it swings by a quarter or more
between runs.

``--trace 1`` is a separate run that records spans around the calls
into each layer and prints the per-layer metrics instead; metrics of a
layer the workload does not run read 0.  The last stdout line is the
JSON result; the line before it names the record written under
``.perfbench/results/`` (box state, seed, all metrics, spans).  The
exit code is 1 when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
import uuid
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (ROOT, WORK, MemSampler, Tracer,  # noqa: E402
                              box_state, cpu_delta, cpu_times,
                              reap_descendants, stop_spark, write_json)

DRIVER_MEM = "3g"
WORKLOADS = ("pubsub_ref20", "pubsub_aged_wide", "registry_batch")
# Per-layer metrics of layers a workload never enters read 0 there.
LAYERS_BY_WORKLOAD = {
    "pubsub_ref20": ("session.", "memory.", "sources.pubsub.", "pipeline.",
                     "queries.floor_s"),
    "pubsub_aged_wide": ("session.", "memory.", "sources.pubsub.",
                         "pipeline.", "queries.floor_s"),
    "registry_batch": ("session.", "memory.", "queries."),
}


def _isolate_temp_dirs() -> None:
    """Point every temporary and spill directory into the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Both JVMs, spark-submit's launcher and the session's own, get
    # -XX:-UsePerfData: HotSpot otherwise writes /tmp/hsperfdata_<user>
    # whatever java.io.tmpdir says.
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        opts = os.environ.get(var, "")
        os.environ[var] = (
            f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip())
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    # The package's 8g default heap suits a machine of its own; these
    # inputs peak well below 3g, and the cap keeps a run from taking
    # memory it does not need on a shared one.
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    import tempfile

    tempfile.tempdir = tmp


def _declared_metrics() -> tuple[list[str], list[str], dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]], units)


def _select(names, measured: dict, workload: str, trace: bool) -> dict:
    out = {}
    for name in names:
        if name in measured:
            out[name] = measured[name]
        elif trace and not name.startswith(LAYERS_BY_WORKLOAD[workload]):
            out[name] = 0
        else:
            raise KeyError(f"{workload} measured no {name}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    e2e_names, layer_names, units = _declared_metrics()

    try:
        import py_pubsub_pipeline_spark as pkg
    except ImportError as exc:
        print(f"perfbench: the package is not importable here: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: package found outside the checkout: {pkg.__file__}",
              file=sys.stderr)
        return 2
    _isolate_temp_dirs()

    from py_pubsub_pipeline_spark.session import get_spark

    if args.workload == "registry_batch":
        from perfbench import registry_batch as workload_mod
    else:
        from perfbench import streams as workload_mod

    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(bool(args.trace), run_id)
    sessions = []

    def spark_factory():
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        sessions.append(spark)
        return spark, time.perf_counter() - t0

    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "box": box_state(), "started": time.time()}
    result = None
    cpu0 = cpu_times()
    try:
        # The sampler's thread shares the GIL with the sink callbacks and
        # reads every process's page tables, so it runs in traced runs
        # only, where memory is reported.
        with (MemSampler() if args.trace else nullcontext()) as mem:
            try:
                result = workload_mod.run(args.workload, args.seed,
                                          args.seconds, tracer, spark_factory)
            finally:
                for spark in sessions:
                    stop_spark(spark)
        if mem is not None:
            result["per_layer"]["memory.peak_pss_mb"] = mem.peak_kb / 1024
            result["context"]["peak_pss_by_process_mb"] = mem.peak_parts_mb
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        record["error"] = traceback.format_exc()
    finally:
        reap_descendants()
        # session.ensure_package_on_workers zips the package into the
        # temporary directory once per process.
        zipped = os.path.join(WORK, "tmp",
                              f"py_pubsub_pipeline_spark_{os.getpid()}.zip")
        if os.path.exists(zipped):
            os.remove(zipped)
    record["box"]["cpu_s_during_run"] = cpu_delta(cpu0, cpu_times())
    record["box"]["SPARK_DRIVER_MEM"] = os.environ.get("SPARK_DRIVER_MEM")

    path = os.path.join(WORK, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}"
                        f"-{run_id}.json")
    if result is not None:
        record.update(result)
        record["spans"] = tracer.spans
    write_json(path, record)
    print(f"# perfbench record: {os.path.relpath(path, ROOT)}")
    if result is None:
        return 1
    measured = result["per_layer"] if args.trace else result["end_to_end"]
    names = layer_names if args.trace else e2e_names
    metrics = _select(names, measured, args.workload, bool(args.trace))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
