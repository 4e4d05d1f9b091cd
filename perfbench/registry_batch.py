"""The registry workload: bench.py's headline basket (``bench.HEADLINE``
with ``bench.SHUFFLE_WIDTH``) over the benchmark's sf0.1 corpus.

One client runs the keys in sequence, closed-loop; the seed fixes
their order.  Each key runs to completion through the ``noop`` sink, so
every column is computed (``count()`` may prune columns).  Set-up runs
``oracle.compare`` once per key: it checks every output against DuckDB
and is also the warm pass, so the timed pass meets warm code caches and
already-written fixtures.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time

from .common import ROOT, WORK, floor_probe, percentile, process_age_s
from .corpus import ensure_corpus

SF = 0.1
MIN_PASSES = 2
EXCHANGE = re.compile(r"^\s*(?:[:+\-| ]*)(?:Broadcast)?Exchange\b")


def _basket():
    import bench

    return list(bench.HEADLINE), dict(bench.SHUFFLE_WIDTH)


def _duckdb(sf_dir: str, tmp: str):
    """An oracle connection whose spill directory stays in the checkout."""
    import duckdb
    from py_pubsub_pipeline_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{path}')")
    return con


def _release(spark) -> None:
    """Unpersist what the finished key checkpointed or cached, as
    scripts/time_registry.py does, so later keys do not pay for it."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def _exchanges(spark, df) -> int:
    """Exchange nodes in the final (post-AQE) executed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    plan = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    tree = plan.split("== Initial Plan ==")[0]
    return sum(1 for line in tree.splitlines() if EXCHANGE.match(line))


def run(workload: str, seed: int, seconds: int, tracer, spark_factory):
    from py_pubsub_pipeline_spark import oracle
    from py_pubsub_pipeline_spark.registry import load_all

    keys, widths = _basket()
    random.Random(seed).shuffle(keys)
    sf_dir = ensure_corpus(os.path.join(WORK, "corpus"), SF)
    registry = load_all()
    spark, session_s = spark_factory()
    default_width = spark.conf.get("spark.sql.shuffle.partitions")
    module = {k: registry[k].fn.__module__.rsplit(".", 1)[-1] for k in keys}

    def with_width(key, action):
        width = widths.get(key)
        if width is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            return action()
        finally:
            if width is not None:
                spark.conf.set("spark.sql.shuffle.partitions", default_width)
            _release(spark)

    floor_probe(spark)
    floor_before = floor_probe(spark)
    failed: dict[str, str] = {}
    duck_tmp = os.path.join(WORK, "tmp", f"duckdb-{os.getpid()}")
    con = _duckdb(sf_dir, duck_tmp)
    try:
        for key in keys:
            try:
                rep = with_width(key, lambda: oracle.compare(
                    spark, registry[key], sf_dir, con))
            except Exception as exc:  # noqa: BLE001 - a failing key is a result
                failed[key] = f"{type(exc).__name__}: {str(exc)[:300]}"
                continue
            if not rep.get("ok") or rep.get("mode") != "oracle":
                failed[key] = rep.get("why", f"mode {rep.get('mode')}")
    finally:
        con.close()
        shutil.rmtree(duck_tmp, ignore_errors=True)

    def run_key(key):
        registry[key].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite").save()

    setup_s = process_age_s()
    t_begin = time.perf_counter()
    passes: list[dict[str, float]] = []
    # Passes repeat until the run's seconds are spent, and at least
    # MIN_PASSES run: at sf0.1 on 4 cores one pass takes about 13 s, and
    # the first pass after the oracle pass is still warming up.
    while (len(passes) < MIN_PASSES
           or time.perf_counter() - t_begin < seconds):
        walls: dict[str, float] = {}
        with tracer.span("queries.pass", index=len(passes)):
            for key in keys:
                if key in failed:
                    continue
                with tracer.span(f"queries.{module[key]}.{key}"):
                    t0 = time.perf_counter()
                    try:
                        with_width(key, lambda: run_key(key))
                    except Exception as exc:  # noqa: BLE001
                        failed[key] = f"{type(exc).__name__}: {exc}"[:300]
                        continue
                    walls[key] = time.perf_counter() - t0
        passes.append(walls)
        if failed:
            break

    exchanges: dict[str, int] = {}
    if tracer.enabled:
        for key in keys:
            if key not in failed:
                exchanges[key] = with_width(key, lambda: _exchanges(
                    spark, registry[key].fn(spark, sf_dir)))
    floor_after = floor_probe(spark)

    # Each key's best pass, as bench.py times its basket: contention from
    # other tenants only ever slows a key down, and over 15 runs on a
    # contended 4-core machine the sum of per-key bests spread less
    # (0.125) than the sum of per-key means (0.15).
    wall = {k: min(p[k] for p in passes if k in p)
            for k in keys if any(k in p for p in passes)}
    # One request of this closed loop is one pass over the basket: its
    # 13 keys differ too much in cost for per-key percentiles to mean
    # anything.
    pass_walls = [sum(p.values()) for p in passes]
    layers = {"session.start_s": session_s, "queries.floor_s": floor_before}
    for key in keys:
        name = f"queries.{module[key]}.{key}"
        layers[f"{name}_s"] = wall.get(key, 0.0)
        layers[f"{name}.exchanges"] = exchanges.get(key, 0)
    return {
        "attempted": len(keys), "failed": len(failed),
        "correct": not failed,
        "end_to_end": {
            "setup_s": setup_s,
            "closed_loop_s": sum(wall.values()),
            "latency_p50_ms": percentile(pass_walls, 50) * 1e3,
            "latency_p99_ms": percentile(pass_walls, 99) * 1e3,
        },
        "per_layer": layers,
        "context": {
            "sf": SF, "corpus": os.path.relpath(sf_dir, ROOT),
            "key_order": keys, "passes": passes, "failures": failed,
            "latency_samples": len(pass_walls),
            "floor_before_s": floor_before, "floor_after_s": floor_after,
            "failed_frac": len(failed) / len(keys),
        },
    }
