"""The measured workloads.

``build``: a cold full build of the seeded corpus, read from materialized
parquet, in a fresh session; no search runs. ``serve``: one closed-loop
client (the REST caller that waits for each reply) sends a seeded request
stream to an index built during set-up. Both fill ``run.metrics`` with the
end-to-end metrics named in BENCHMARK.json and ``run.detail`` with per-mode
figures and sample counts. ``build``'s set-up is the median input
materialization; ``serve``'s is the median engine open plus its first
request. In a traced run the measured operations are traced too; the
tracing overhead is measured separately (layers.py).
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from statistics import geometric_mean, median
from time import perf_counter

import checks
import inputs
from spans import dir_bytes

from searchengine_spark.engine import SearchEngine
from searchengine_spark.oracle.oracle import OracleEngine
from searchengine_spark.sources.transcripts import transcripts_spark_df

#: set-up is repeated this many times per run and its median reported
SETUP_REPS = 5
#: ``build``'s set-up (one input materialization, ~0.2 s) is short and
#: noisy, so it is repeated more often
BUILD_SETUP_REPS = 15
#: the first request of a freshly opened engine during set-up
OPEN_QUERY = "hotalpha"


def prepare(run) -> None:
    run.pdf = inputs.corpus(run.seed)
    run.oracle = OracleEngine().build(run.pdf)
    run.text_bytes = inputs.text_bytes(run.pdf)
    run.note("input.turns", len(run.pdf), "count")
    run.note("input.indexed_turns", run.oracle.n_docs, "count")
    run.note("input.text_bytes", run.text_bytes, "bytes")
    run.note("input.lemmas", run.oracle.terms["term"].nunique(), "count")


def materialize(run):
    """The corpus as a parquet table, read back through Spark."""
    d = run.fresh_dir("in")
    df = transcripts_spark_df(run.spark, run.pdf, cache_dir=d)
    df.count()
    run.input_df = df
    run.input_path = os.path.join(d, "transcripts_custom.parquet")
    return df


def timed_build(run, df, traced: bool):
    """One full build into a fresh warehouse; a traced build is the one the
    layer probe reports on."""
    wh = run.fresh_dir("wh")
    eng = SearchEngine(run.spark, wh, run.cfg)
    with run.tracer.span("build") if traced else nullcontext() as span:
        t0 = perf_counter()
        res = eng.build(df)
        dt = perf_counter() - t0
    if traced:
        run.build_span, run.build_result, run.build_s = span, res, dt
    run.check("statistics after build", checks.statistics(eng.statistics(), run.oracle))
    return eng, wh, dt


def build(run) -> None:
    prepare(run)
    setups = []
    for _ in range(BUILD_SETUP_REPS):
        t0 = perf_counter()
        df = materialize(run)
        setups.append(perf_counter() - t0)
    # the measured operation: the first build in a fresh session, which pays
    # JIT and Python worker start-up as a user's first build does
    eng, wh, cold = timed_build(run, df, traced=run.trace)
    ratio = dir_bytes(wh) / run.text_bytes
    # the rest of the window, if any, runs warm builds (detail only)
    warm, spent = [], cold
    while spent < run.seconds:
        shutil.rmtree(wh)
        eng, wh, dt = timed_build(run, df, traced=False)
        warm.append(dt)
        spent += dt
    run.engine, run.warehouse = eng, wh

    setup = median(setups)
    run.metrics.update(
        {
            "latency_ms": (cold * 1000, "ms"),
            "throughput_per_s": (len(run.pdf) / cold, "1/s"),
            "index_bytes_per_text_byte": (ratio, "ratio"),
            "setup_s": (setup, "s"),
        }
    )
    run.note("cold_build_s", cold, "s", 1)
    run.note("build_turns_per_s", len(run.pdf) / cold, "turns/s", 1)
    if warm:
        run.note("warm_build_p50_s", median(warm), "s", len(warm))
    run.note("index_bytes_per_text_byte", ratio, "ratio")
    run.note("setup_s", setup, "s", BUILD_SETUP_REPS)


def execute(eng, op: dict):
    kind = op["kind"]
    if kind == "stats":
        return eng.statistics()
    kw = {"site": op["site"], "offset": op["offset"], "mode": op["mode"]}
    if kind == "response":
        return eng.search_response(op["query"], **kw)
    return eng.search(op["query"], exact_count=kind != "bm25_topk", **kw)


def verify(op: dict, out, oracle) -> str | None:
    if op["kind"] == "stats":
        return checks.statistics(out, oracle)
    if op["kind"] == "response":
        return checks.response(op, out, oracle)
    return checks.search(op, out[0], out[1], oracle)


def run_op(run, eng, op: dict, traced: bool) -> float:
    """Time one request and check its answer. A request that raises counts
    as failed and its time up to the error is returned, so that a broken
    engine still uses up the window. A traced request's span keeps the
    request."""
    span = run.tracer.span(f"query:{op['kind']}", qid=op["id"], phases=True)
    with span if traced else nullcontext() as rec:
        if rec is not None:
            rec["op"] = op
        t0 = perf_counter()
        try:
            out = execute(eng, op)
        except Exception as e:  # a failed request counts against the run
            run.check(f"request {op}", repr(e))
            return perf_counter() - t0
        dt = perf_counter() - t0
    run.check(f"request {op}", verify(op, out, run.oracle) if op["check"] else None)
    return dt


def serve(run) -> None:
    prepare(run)
    df = materialize(run)
    eng, wh, cold = timed_build(run, df, traced=run.trace)
    ratio = dir_bytes(wh) / run.text_bytes
    run.engine, run.warehouse = eng, wh

    opens = []  # set-up is not reported by a traced run
    for _ in range(0 if run.trace else SETUP_REPS):
        t0 = perf_counter()
        SearchEngine(run.spark, wh, run.cfg).search(OPEN_QUERY, mode="bm25")
        opens.append(perf_counter() - t0)

    for q in inputs.SHORT_CIRCUIT:
        for mode in ("reference", "bm25"):
            run.check(f"short-circuit {q!r} {mode}", checks.short_circuit(eng, run.oracle, q, mode))

    stream = inputs.serve_stream(run.seed, run.oracle)
    for _ in inputs.MODES:  # one untimed request of each kind
        run_op(run, eng, next(stream), traced=False)
    times: dict[str, list[float]] = {k: [] for k in inputs.MODES}
    spent = 0.0
    while spent < run.seconds or not all(times.values()):
        op = next(stream)
        dt = run_op(run, eng, op, traced=run.trace)
        times[op["kind"]].append(dt)
        spent += dt

    every = [t for ts in times.values() for t in ts]
    # each kind weighs the same, whatever its share of the stream: a slowdown
    # of any one kind moves the latency
    latency = geometric_mean([median(ts) for ts in times.values()])
    if opens:
        run.metrics.update(
            {
                "latency_ms": (latency * 1000, "ms"),
                "throughput_per_s": (len(every) / sum(every), "1/s"),
                "index_bytes_per_text_byte": (ratio, "ratio"),
                "setup_s": (median(opens), "s"),
            }
        )
        run.note("setup_s", median(opens), "s", SETUP_REPS)
    names = {
        "ref": "ref_query_p50_ms", "bm25": "bm25_query_p50_ms",
        "bm25_topk": "bm25_topk_p50_ms", "response": "response_p50_ms",
        "stats": "stats_p50_ms",
    }
    for kind, name in names.items():
        run.note(name, median(times[kind]) * 1000, "ms", len(times[kind]))
    run.note("kinds_p50_geomean_ms", latency * 1000, "ms", len(every))
    run.note("request_p50_ms", median(every) * 1000, "ms", len(every))
    run.note("cold_build_s", cold, "s", 1)
    run.note("build_turns_per_s", len(run.pdf) / cold, "turns/s", 1)
    run.note("index_bytes_per_text_byte", ratio, "ratio")


WORKLOADS = {"build": build, "serve": serve}
