"""The two workloads.  Each warms every operation type up untimed until its
latency stops drifting, then runs operations back to back for the
measurement window and checks every answer.

An operation record holds the kind, its latency split into the layer call
(building the lazy result and any eager jobs inside the call) and the
action that collects the answer, whether it was traced, and its spans by
layer.
"""

from __future__ import annotations

import itertools
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

import checks
import inputs

# warm-up of each kind ends once two latencies in a row differ by at most
# DRIFT, within (min, max) operations.  The first searches of a session
# run up to twice as slow as later ones and keep getting faster for about
# a dozen searches, so the warm-up sends at least eight.
DRIFT = 0.1
WARM = {"crawl": (2, 4), "search": (8, 10), "lookup": (2, 4)}


@dataclass(frozen=True)
class _Op:
    kind: str


@dataclass
class Outcome:
    warmup_s: float = 0.0
    ops: list[dict] = field(default_factory=list)   # timed operations
    attempted: int = 0
    failed: int = 0
    properties: dict = field(default_factory=dict)

    def latencies(self, kind: str) -> list[float]:
        return [op["ms"] for op in self.ops if op["kind"] == kind]


def _warm(run_op, queues: dict[str, list]) -> float:
    t0 = time.perf_counter()
    for kind, queue in queues.items():
        least, most = WARM[kind]
        lat = []
        while queue and len(lat) < most:
            lat.append(run_op(queue.pop(0), timed=False)["ms"])
            if len(lat) >= max(least, 2) and \
                    abs(lat[-1] - lat[-2]) <= DRIFT * lat[-1]:
                break
    return time.perf_counter() - t0


def _window(run_op, blocks, seconds: float, tracer) -> None:
    """Whole blocks of operations, back to back, until ``seconds`` have
    passed or the blocks run out; the block in flight at the deadline
    completes and counts.  In a traced run every other operation of each
    kind runs without spans, for the tracing overhead."""
    seen: dict[str, int] = {}
    t_end = time.perf_counter() + seconds
    for block in blocks:
        for op in block:
            n = seen.get(op.kind, 0)
            seen[op.kind] = n + 1
            tracer.active = tracer.enabled and n % 2 == 0
            run_op(op, timed=True)
            tracer.active = False
        if time.perf_counter() >= t_end:
            return


def crawl_pages(spark, idx, tracer, seed: int, seconds: float
                ) -> Outcome:
    """One batch of pages through extract_pages, then geocode."""
    from nominatim_spark.pipeline.extract import extract_pages
    from nominatim_spark.pipeline.search import geocode
    from nominatim_spark.sources.synth import PAGES_SCHEMA

    out = Outcome()
    batch = inputs.crawl_batch(seed)
    pages = spark.createDataFrame(pd.DataFrame(batch.rows),
                                  schema=PAGES_SCHEMA).persist()
    pages.count()
    out.properties = batch.properties()

    def run_op(op, timed):
        rec = {"kind": op.kind, "traced": tracer.active}
        out.attempted += batch.n_pages
        t0 = time.perf_counter()
        try:
            # extraction is materialized on its own, so its cost and the
            # search's stay apart
            with tracer.span("pipeline.extract") as ext:
                mentions = (
                    extract_pages(pages)
                    .filter(F.col("mention").isNotNull())
                    .select(F.col("url").alias("query_id"),
                            F.col("mention").alias("qtext"))
                    .localCheckpoint(eager=True))
            t1 = time.perf_counter()
            with tracer.span("pipeline.search") as sea:
                res = geocode(spark, idx, mentions)
                t2 = time.perf_counter()
                rows = res.select("query_id", "osm_type", "osm_id").collect()
            t3 = time.perf_counter()
        except Exception:  # noqa: BLE001 — a failed batch fails every page
            traceback.print_exc(file=sys.stderr)
            out.failed += batch.n_pages
            rec.update(ms=(time.perf_counter() - t0) * 1e3, ok=False)
            return rec
        extracted: dict[str, list[str]] = {}
        for r in mentions.collect():
            extracted.setdefault(r.query_id, []).append(r.qtext)
        answers = {r.query_id: (r.osm_type, r.osm_id) for r in rows}
        bad = checks.crawl_failures(batch, extracted, answers)
        out.failed += bad
        rec.update(
            spans={"pipeline.extract": ext, "pipeline.search": sea},
            ms=(t3 - t0) * 1e3, extract_ms=(t1 - t0) * 1e3,
            call_ms=(t2 - t1) * 1e3, action_ms=(t3 - t2) * 1e3,
            pages=batch.n_pages, mentions=sum(map(len, extracted.values())),
            distinct=len({t for ts in extracted.values() for t in ts}),
            correct=len(answers) - bad, ok=bad == 0)
        if timed:
            out.ops.append(rec)
        return rec

    crawl = _Op("crawl")
    out.warmup_s = _warm(run_op, {"crawl": [crawl] * WARM["crawl"][1]})
    _window(run_op, itertools.repeat([crawl]), seconds, tracer)
    pages.unpersist()
    return out


def api_requests(spark, idx, tracer, seed: int, seconds: float
                 ) -> Outcome:
    """One closed-loop client: a single request at a time."""
    from nominatim_spark.pipeline.lookup import lookup_places
    from nominatim_spark.pipeline.search import geocode

    out = Outcome()
    stream = inputs.api_requests(seed)
    layer = {"search": "pipeline.search", "lookup": "pipeline.lookup"}

    def call(req):
        if req.kind == "search":
            q = spark.createDataFrame([("q0", req.arg)],
                                      "query_id string, qtext string")
            return geocode(spark, idx, q)
        return lookup_places(spark, idx, list(req.arg))

    def run_op(req, timed):
        kind = req.kind
        rec = {"kind": kind, "traced": tracer.active}
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(layer[kind]) as sp:
                df = call(req)
                t1 = time.perf_counter()
                rows = [(r.osm_type, r.osm_id)
                        for r in df.select("osm_type", "osm_id").collect()]
            t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 — count it and keep serving
            traceback.print_exc(file=sys.stderr)
            out.failed += 1
            rec.update(ms=(time.perf_counter() - t0) * 1e3, ok=False)
            return rec
        ok = checks.request_ok(req, rows)
        if not ok:
            print(f"wrong answer: {req} -> {rows}", file=sys.stderr)
        out.failed += not ok
        rec.update(ms=(t2 - t0) * 1e3, call_ms=(t1 - t0) * 1e3,
                   action_ms=(t2 - t1) * 1e3, spans={layer[kind]: sp}, ok=ok,
                   found=len(rows), asked=len(req.expect)
                   if kind == "lookup" else 1)
        if timed:
            out.ops.append(rec)
        return rec

    out.warmup_s = _warm(run_op, stream.warmup)
    _window(run_op, stream.blocks, seconds, tracer)
    out.properties = {
        kind: sum(op["kind"] == kind for op in out.ops) for kind in layer}
    return out
