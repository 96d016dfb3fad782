#!/usr/bin/env python3
"""Benchmark of the nominatim_spark engine.

    python3 perfbench/run.py --workload {crawl_pages,api_requests} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  One run starts a Spark session, opens the
standing index, warms every operation type up, measures for ``--seconds``
and checks every answer against ground truth generated from ``--seed``.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The line
before it gives per-kind detail and the input properties.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

CPUS = min(2, os.cpu_count() or 1)   # local[k], shuffle partitions = k
DRIVER_MEM = "3g"


def _pin_environment(run_dir: Path) -> None:
    """Fix everything the session reads from the environment; the run's
    temp and Spark scratch files go to its own directory."""
    for var in ("SPARK_GRAFT_MAX_PART_BYTES", "SPARK_GRAFT_ADVISORY_BYTES"):
        os.environ.pop(var, None)
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir()
    local.mkdir()
    path = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PREWARM": "1",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(path),
    })
    tempfile.tempdir = str(tmp)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _start_session(run_dir: Path, traced: bool):
    from nominatim_spark.session import get_spark
    from tracing import TRACE_CONF

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    if traced:
        conf.update(TRACE_CONF)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS, shuffle_partitions=CPUS,
                      extra_conf=conf)
    return spark, time.perf_counter() - t0


def main(argv=None) -> int:
    import standing
    import workloads
    from tracing import Tracer

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_pages", "api_requests"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    WORK.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=WORK))
    spark = None
    try:
        _pin_environment(run_dir)
        tracer = Tracer(traced)
        spark, session_s = _start_session(run_dir, traced)
        tracer.bind(spark.sparkContext)
        detail = {"workload": args.workload, "seed": args.seed,
                  "cpus": CPUS, "session_s": session_s}
        if traced:
            # a fresh build, timed per stage from its manifests
            index_root = Path(tempfile.mkdtemp(prefix="fresh-", dir=run_dir))
            t_build = time.monotonic()
            with tracer.span("plans.flagship") as build_span:
                standing.build(spark, str(index_root))
            stage_s = standing.stage_seconds(index_root, t_build)
        else:
            index_root, detail["cache_build_s"] = standing.ensure_cached(
                spark, WORK, standing.source_key(ROOT, CPUS))
        t0 = time.perf_counter()
        with tracer.span("io.checkpoint.load"):
            idx = standing.open_copy(spark, index_root, run_dir)
        load_s = time.perf_counter() - t0
        tracer.active = False

        run = getattr(workloads, args.workload)
        outcome = run(spark, idx, tracer, args.seed, args.seconds)
        kinds = sorted({op["kind"] for op in outcome.ops})
        detail.update(
            load_s=load_s, warmup_s=outcome.warmup_s,
            placex_rows=idx.placex.count(),
            inputs=outcome.properties,
            p50_ms={k: _median(outcome.latencies(k)) for k in kinds},
            samples_ms={k: outcome.latencies(k) for k in kinds})
        if traced:
            failed_tasks = tracer.finish()
            metrics = per_layer(tracer, outcome, build_span, stage_s,
                                index_root, session_s, failed_tasks)
            trace_path = WORK / f"trace-{args.workload}-{args.seed}.json"
            tracer.write(str(trace_path))
            detail["trace"] = str(trace_path.relative_to(ROOT))
        else:
            metrics = end_to_end(args.workload, outcome,
                                 session_s + load_s + outcome.warmup_s,
                                 standing.parquet_bytes(index_root))
        print(json.dumps(detail))
        print(json.dumps({
            "correct": outcome.failed == 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            spark.stop()
            _wait_for_jvm_exit()
        shutil.rmtree(run_dir, ignore_errors=True)


def _wait_for_jvm_exit() -> None:
    """The session's JVM (and the Python workers it forked) exits once its
    stdin closes; wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(workload, outcome, setup_s, index_bytes) -> dict:
    if workload == "crawl_pages":
        # pages of one batch over the batch's wall time
        rate = _median([op["pages"] / (op["ms"] / 1e3) for op in outcome.ops])
        latency = _median(outcome.latencies("crawl"))
    else:
        # requests per second of the 1:1 search/lookup stream, from the
        # per-kind medians; latency is the median search
        p50 = {k: _median(outcome.latencies(k)) for k in ("search", "lookup")}
        rate = len(p50) * 1e3 / sum(p50.values())
        latency = p50["search"]
    return {
        "setup_s": _m(setup_s, "s"),
        "index_mb": _m(index_bytes / 1e6, "MB"),
        "throughput_per_s": _m(rate, "1/s"),
        "latency_p50_ms": _m(latency, "ms"),
    }


def _share(ops, num, den=None) -> float:
    """sum(num) / sum(den) over ``ops`` (den None: per operation)."""
    total = sum(op[den] for op in ops) if den else len(ops)
    return sum(op[num] for op in ops) / total if total else 0.0


def per_layer(tracer, outcome, build_span, stage_s, index_root, session_s,
              failed_tasks) -> dict:
    """Layer metrics of a traced run.  Times and Spark counts come from the
    traced operations; answer shares from every timed operation."""
    import standing

    m: dict = {"session.start_s": _m(session_s, "s")}
    for stage in standing.PLACEX_STAGES:
        m[f"placex.stage_s.{stage}"] = _m(stage_s[stage], "s")
    for stage in standing.TOKEN_STAGES:
        m[f"tokens.stage_s.{stage}"] = _m(stage_s[stage], "s")
    for stage in standing.STAGES:
        m[f"checkpoint.rows.{stage}"] = _m(
            standing.manifest(index_root, stage)["rows"], "count")
        m[f"checkpoint.bytes.{stage}"] = _m(
            standing.parquet_bytes(index_root, stage), "B")
    for key, unit in (("jobs", "count"), ("tasks", "count"),
                      ("task_s", "s"), ("shuffle_mb", "MB")):
        m[f"build.{key}"] = _m(tracer.subtree(build_span, key), unit)

    def layer(name):
        """(timed ops calling the layer, spans of the traced ones)"""
        ops = [op for op in outcome.ops if name in op["spans"]]
        return ops, [op["spans"][name] for op in ops if op["traced"]]

    def per_call(spans, key):
        return sum(tracer.subtree(s, key) for s in spans) / len(spans) \
            if spans else 0.0

    def ms(ops, key):
        return _median([op[key] for op in ops if op["traced"]])

    ops, spans = layer("pipeline.extract")
    pages = sum(op["pages"] for op in ops)
    mentions = sum(op["mentions"] for op in ops)
    m["extract.exec_s"] = _m(ms(ops, "extract_ms") / 1e3, "s")
    m["extract.task_s"] = _m(per_call(spans, "task_s"), "s")
    m["extract.pages"] = _m(pages, "count")
    m["extract.mentions"] = _m(mentions, "count")
    m["extract.mention_share"] = _m(mentions / pages if pages else 0.0,
                                    "ratio")

    # crawl batches and api searches both call geocode()
    ops, spans = layer("pipeline.search")
    crawl = any("pipeline.extract" in op["spans"] for op in ops)
    m["search.call_ms"] = _m(ms(ops, "call_ms"), "ms")
    m["search.action_ms"] = _m(ms(ops, "action_ms"), "ms")
    m["search.jobs_per_call"] = _m(per_call(spans, "jobs"), "count")
    m["search.tasks_per_call"] = _m(per_call(spans, "tasks"), "count")
    m["search.shuffle_mb_per_call"] = _m(per_call(spans, "shuffle_mb"), "MB")
    m["search.distinct_share"] = _m(
        _share(ops, "distinct", "mentions") if crawl else float(bool(ops)),
        "ratio")   # api search texts never repeat
    m["search.correct_share"] = _m(
        _share(ops, "correct", "mentions") if crawl else _share(ops, "ok"),
        "ratio")

    ops, spans = layer("pipeline.lookup")
    m["lookup.call_ms"] = _m(ms(ops, "call_ms"), "ms")
    m["lookup.action_ms"] = _m(ms(ops, "action_ms"), "ms")
    m["lookup.jobs_per_call"] = _m(per_call(spans, "jobs"), "count")
    m["lookup.found_share"] = _m(_share(ops, "found", "asked"), "ratio")

    m["spark.failed_tasks"] = _m(failed_tasks, "count")
    # operations alternate between spans on and off within the run
    ratios = []
    for kind in {op["kind"] for op in outcome.ops}:
        on = [op["ms"] for op in outcome.ops
              if op["kind"] == kind and op["traced"]]
        off = [op["ms"] for op in outcome.ops
               if op["kind"] == kind and not op["traced"]]
        if on and off:
            ratios.append(_median(on) / _median(off))
    m["trace.overhead_share"] = _m(
        statistics.geometric_mean(ratios) - 1 if ratios else 0.0, "ratio")
    return m


def _reexec_with_fixed_hash_seed() -> None:
    """String hashing must not vary between runs: restart the interpreter
    with PYTHONHASHSEED pinned (the Python workers inherit it)."""
    if os.environ.get("PYTHONHASHSEED") != "0":
        env = dict(os.environ, PYTHONHASHSEED="0")
        os.execve(sys.executable, [sys.executable, *sys.argv], env)


if __name__ == "__main__":
    _reexec_with_fixed_hash_seed()
    sys.path[:0] = [str(HERE), str(ROOT)]
    sys.exit(main())
