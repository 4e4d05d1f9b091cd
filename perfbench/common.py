"""Shared pieces of the benchmark: statistics, spans, the process-tree
memory sampler, box state, and process clean-up."""

from __future__ import annotations

import hashlib
import json
import os
import signal
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything a run writes stays under the checkout, in a directory that
# .gitignore names.
WORK = os.path.join(ROOT, ".perfbench")


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest of the usual tail percentiles that leaves at least
    ten samples beyond it, or None when ``n`` is below twenty."""
    for q in (99.9, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0):
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return None


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def floor_probe(spark) -> float:
    """Noop-sink wall of a fixed trivial aggregation: the session and
    scheduling floor, as in scripts/time_registry.py."""
    t0 = time.perf_counter()
    spark.range(1 << 20).selectExpr("sum(id) AS s").write.format(
        "noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    when the run ends.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        rec = {"id": uuid.uuid4().hex[:16], "name": name,
               "parent": stack[-1] if stack else None,
               "run_id": self.run_id, "start": time.time(), **attrs}
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        """Record a span timed elsewhere, such as in the load generator."""
        if self.enabled:
            self.spans.append({"id": uuid.uuid4().hex[:16], "name": name,
                               "parent": parent, "run_id": self.run_id,
                               "start": start, "end": end, **attrs})

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3
                for s in self.spans if s["name"] == name]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class MemSampler:
    """Samples the summed PSS of this process and its descendants (the
    JVM, Python workers and the load generator).
    PSS splits each shared page among the processes sharing it, so
    forked children (Python workers, the JVM's short-lived helper
    forks) are not counted twice as they would be by summing RSS."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_parts_mb: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        parts: dict[str, int] = {}
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(line.split()[1]) for line in fh
                               if line.startswith("Pss:"))
            except (OSError, StopIteration, IndexError, ValueError):
                continue
            parts[comm] = parts.get(comm, 0) + pss
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_parts_mb = {k: v / 1024 for k, v in parts.items()}

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "MemSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_times() -> dict:
    """Box-wide CPU seconds from /proc/stat: busy, idle and steal (time
    the hypervisor gave this machine's CPUs to someone else)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    return {"busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / tick,
            "idle": (f[3] + f[4]) / tick, "steal": f[7] / tick}


def cpu_delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in before}


def _tree_sha(pkg_dir: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def box_state() -> dict:
    """What results from different machines must be compared against."""
    import pyspark

    mem_kb = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True,
                                 timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            sha = None
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [float(x) for x in load],
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_sha": sha,
        "package_tree_sha": _tree_sha(
            os.path.join(ROOT, "py_pubsub_pipeline_spark")),
        "pyspark": pyspark.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=10)


def _reap_exited_children() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap_descendants(timeout_s: float = 15.0) -> None:
    """Wait for every process this run started to end; terminate any
    still alive at the deadline."""
    for sig, wait_s in ((None, timeout_s), (signal.SIGTERM, 5),
                        (signal.SIGKILL, 5)):
        if sig is not None:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        end = time.time() + wait_s
        while True:
            _reap_exited_children()
            if not descendants(os.getpid()):
                return
            if time.time() > end:
                break
            time.sleep(0.1)


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)
    os.replace(tmp, path)
