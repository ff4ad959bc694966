#!/usr/bin/env python3
"""Paper-shape search benchmark for ``SearchEngine``.

One run = one fresh process = one workload:

    python3 perfbench/run.py --workload serve_solo --seed 7 --seconds 22 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` serves the same
ops with every other unfiltered request of a mode traced and prints the
per-layer metrics and the tracing overhead. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it give every metric with its unit and sample count, and the run
context. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"

WORKLOADS = {"serve_solo": "one client", "serve_busy": "one client per core"}
CORPUS_SEED = 42  # the paper corpus is fixed; --seed drives only the request stream
CATALOGS = {"paper": 1000, "tiny": 40}  # 1,000 catalogs flatten to ~5.4k products
DIM = 1024
MODES = ("vector", "hybrid", "fulltext")
# Nominal seconds one round (stream.py) takes per workload on the paper
# corpus, measured on a 4-core host. --seconds sets the number of whole
# rounds a run serves from these, before it starts: the op count is then
# fixed for a given --seconds, and a faster engine serves the same ops in a
# shorter window.
ROUND_SECONDS = {"serve_solo": 22.0, "serve_busy": 12.0}
CLEANUP_ROUNDS, CLEANUP_WAIT_S = 3, 0.5  # see jvm_live_mb
TAIL_BEYOND = 10  # tail_ms is the latency with this many samples above it

END_TO_END = {
    "setup_s": "s",
    "vector_p50_ms": "ms",
    "hybrid_p50_ms": "ms",
    "fulltext_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "cpu_ms_per_op": "ms",
    "mem_mb": "MB",
    "recall_at_k": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_ms": "ms",
    "sources.partitions": "count",
    "flatten.ms": "ms",
    "embed.batch_ms": "ms",
    "embed.rows_per_s": "1/s",
    "embed.query_ms": "ms",
    "bm25.build_ms": "ms",
    "bm25.postings_rows": "count",
    "bm25.call_ms": "ms",
    "bm25.exec_ms": "ms",
    "bm25.matched_rows": "count",
    "knn.call_ms": "ms",
    "knn.exec_ms": "ms",
    "knn.rows_scored": "count",
    "fusion.call_ms": "ms",
    "fusion.exec_ms": "ms",
    **{f"api.{m}_ms.{mode}": "ms" for m in ("self", "plan", "collect") for mode in MODES},
    "api.restaurants_ms": "ms",
    **{f"spark.{k}_per_req.{mode}": "count" for k in ("jobs", "stages", "tasks") for mode in MODES},
    **{f"trace.overhead_ms.{mode}": "ms" for mode in MODES},
}
# Printed with the end-to-end metrics but left out of the result line: at the
# op counts of a run (16 solo), the highest percentile with ten samples
# above it is near the pooled median, which falls between the modes'
# latency clusters and so jumps between runs; failed_share is 0 on a
# correct engine and is carried by the "failed" field instead; rows_per_s is
# one cold corpus build (generate, flatten, embed, cache) per run.
REPORTED_ONLY = {"tail_ms": "ms", "failed_share": "ratio", "rows_per_s": "1/s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True, help="request-stream seed")
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal length of the timed window; sets the number of whole rounds")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", default="nproc", help='Spark local cores: "nproc" or a number')
    p.add_argument("--driver-mem", default="2g", help="spark.driver.memory")
    p.add_argument("--size", choices=sorted(CATALOGS), default="paper",
                   help="tiny is for the self-test only")
    return p.parse_args(argv)


def configure_env(cpus: int, driver_mem: str) -> None:
    """Spark settings that must be in place before the JVM starts. Every
    file Spark, the JVM and the Python workers write goes under OUT."""
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        # a heap fixed at its maximum: without it the heap grows during the
        # run, and latency falls with every resize
        f'--driver-java-options "-Xms{driver_mem}" pyspark-shell'
    )


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


# ------------------------------------------------------------------ serving


class Window:
    """The timed window: ``clients`` closed-loop threads take the run's ops
    from one queue, each starting its next op when its last one is done,
    until the queue is empty. Every run of a workload and ``--seconds``
    therefore serves the same ops, whatever they cost."""

    def __init__(self, engine, ops, clients: int, tracer):
        self.engine, self.ops, self.clients, self.tracer = engine, ops, clients, tracer
        self.records: list[dict] = []
        self._next = 0
        self._lock = threading.Lock()

    def _take(self):
        with self._lock:
            if self._next == len(self.ops):
                return None
            self._next += 1
            return self.ops[self._next - 1]

    def _client(self) -> None:
        while (op := self._take()) is not None:
            ctx = (
                self.tracer.request(f"op{op.index}", op.mode, traced=op.traced,
                                    filtered=op.filtered)
                if self.tracer is not None
                else contextlib.nullcontext()
            )
            error = result = None
            with ctx:
                t0 = time.perf_counter()
                try:
                    result = (
                        self.engine.search(op.payload)["results"]
                        if op.payload is not None
                        else self.engine.restaurants()
                    )
                except Exception as exc:  # counted as a failed op, the run goes on
                    error = f"{type(exc).__name__}: {exc}"
                t1 = time.perf_counter()
            with self._lock:
                self.records.append({
                    "mode": op.mode, "payload": op.payload, "filtered": op.filtered,
                    "traced": op.traced, "latency_ms": (t1 - t0) * 1000.0, "end": t1,
                    "result": result, "error": error,
                })

    def run(self) -> tuple[float, float]:
        """Run the clients; return (start, end) of the window."""
        start = time.perf_counter()
        run_threads([self._client] * self.clients)
        return start, max(r["end"] for r in self.records)


def run_threads(fns) -> None:
    errors: list[BaseException] = []

    def guard(fn):
        try:
            fn()
        except BaseException as exc:  # re-raised in the main thread below
            errors.append(exc)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def warm_up(engine, seed: int) -> None:
    """One unfiltered (vector, hybrid, fulltext) triple and one
    restaurants() call from one client, untimed."""
    from stream import warmup_triple

    for payload in warmup_triple(seed):
        engine.search(payload)
    engine.restaurants()


# ------------------------------------------------------------------ metrics


def tail(latencies: list[float]) -> tuple[float, float]:
    """(latency, percentile) of the sample with TAIL_BEYOND samples above it."""
    xs = sorted(latencies)
    i = len(xs) - 1 - TAIL_BEYOND
    return (xs[i], 100.0 * (i + 1) / len(xs)) if i >= 0 else (float("nan"), float("nan"))


def check_records(records, ref) -> tuple[int, list[float], list[str]]:
    """Check every op against the reference: (failed, recalls, reasons)."""
    from reference import check

    failed, recalls, reasons = 0, [], []
    for r in records:
        why = r["error"] or ""
        if not why and r["mode"] == "restaurants":
            if r["result"] != ref.restaurant_names:
                why = "restaurants() list differs"
        elif not why:
            expected, allowed = ref.expected(r["payload"])
            _, recall, why = check(expected, allowed, r["result"])
            recalls.append(recall)
        if why:
            failed += 1
            reasons.append(f"{r['mode']} {json.dumps(r['payload'])}: {why}")
    return failed, recalls, reasons


def setup_layers(catalogs, embedder) -> dict[str, float]:
    """Per-layer cost of the corpus build, measured after the window: each
    stage is forced over its input cached and materialised, so that its
    time is its own. The serving corpus must be unpersisted first, or the
    embed stage would be answered from its cache."""
    from tracing import force

    from hybrid_vector_search_spark.operators import bm25
    from hybrid_vector_search_spark.operators.embed import embed_documents
    from hybrid_vector_search_spark.sources.catalog_gen import flatten_catalogs

    gen_ms = force(catalogs)
    cached = catalogs.cache()
    force(cached)
    flat = flatten_catalogs(cached)
    flat_ms = force(flat)
    flat = flat.cache()
    rows = flat.count()
    embed_ms = force(embed_documents(flat, "product.description", "emb_description",
                                     embedder=embedder))
    t0 = time.perf_counter()
    stats = bm25.build_text_stats(flat, "_id", "title").persist()
    frames = (stats.postings, stats.doc_len, stats.doc_freq, stats.corpus)
    for frame in frames:
        force(frame)
    build_ms = (time.perf_counter() - t0) * 1000.0
    postings = stats.postings.count()
    for frame in (*frames, flat, cached):
        frame.unpersist()
    return {
        "sources.gen_ms": gen_ms,
        "sources.partitions": catalogs.rdd.getNumPartitions(),
        "flatten.ms": flat_ms,
        "embed.batch_ms": embed_ms,
        "embed.rows_per_s": rows / (embed_ms / 1000.0),
        "bm25.build_ms": build_ms,
        "bm25.postings_rows": postings,
    }


def jvm_live_mb(spark) -> tuple[float, float]:
    """(heap, non-heap) MB the JVM holds after full collections: the live
    heap (the cached corpus, the text index, plan caches) and the non-heap
    memory in use (metaspace, code cache). Collections repeat until the heap
    stops falling. The heap is fixed at --driver-mem, so the JVM's resident
    size would show the heap setting, not the engine's memory."""
    import gc

    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heaps: list[float] = []
    while len(heaps) < CLEANUP_ROUNDS or (
        heaps[-2] - heaps[-1] > 1.0 and len(heaps) < 4 * CLEANUP_ROUNDS
    ):
        gc.collect()  # drop the driver's dead handles, which keep JVM objects alive
        mem.gc()
        # Spark's cleaner frees the broadcast and shuffle blocks of collected
        # plans on its own thread, after a collection has found them
        time.sleep(CLEANUP_WAIT_S)
        heaps.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
    return heaps[-1], mem.getNonHeapMemoryUsage().getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every process it started
    (Python workers, which outlive it briefly as orphans) have ended."""
    from proc import alive, descendants

    from pyspark import SparkContext

    started = descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.2)
    for pid in filter(alive, started):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while any(alive(p) for p in started):
        time.sleep(0.1)


# --------------------------------------------------------------------- main


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0)) if args.cpus == "nproc" else int(args.cpus)
    sys.path[:0] = [str(BENCH), str(ROOT)]
    try:
        import hybrid_vector_search_spark
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not Path(hybrid_vector_search_spark.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: the engine must come from {ROOT}", file=sys.stderr)
        return 2
    configure_env(cpus, args.driver_mem)

    from proc import calibrate, cpu_times, hwm_mb, loadavg, tree_cpu_s
    from reference import Reference
    from stream import ops
    from tracing import Tracer

    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine
    from hybrid_vector_search_spark.operators.embed import (
        HashingEmbedder,
        embed_documents,
        query_vector,
    )
    from hybrid_vector_search_spark.session import get_spark
    from hybrid_vector_search_spark.sources import pyds
    from hybrid_vector_search_spark.sources.catalog_gen import flatten_catalogs

    clients = 1 if args.workload == "serve_solo" else cpus
    rounds = max(1, round(args.seconds / ROUND_SECONDS[args.workload]))
    calib_before = calibrate()
    steal0, total0 = cpu_times()

    # ---- set-up: session, corpus, engine, warm-up
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    pyds.register(spark)
    catalogs = (
        spark.read.format("synthetic_catalogs")
        .option("n", CATALOGS[args.size])
        .option("seed", CORPUS_SEED)
        .load()
    )
    embedder = HashingEmbedder(DIM)
    corpus = embed_documents(
        flatten_catalogs(catalogs), "product.description", "emb_description", embedder=embedder
    ).cache()
    rows = corpus.count()
    corpus_s = time.perf_counter() - t0 - session_s
    engine = SearchEngine(
        corpus,
        SearchConfig(
            id_col="_id",
            title_col="title",
            emb_col="emb_description",
            available_col="product.available",
            price_col="product.price.amount",
            restaurant_col="restaurantName",
            extra_project=("product",),
        ),
        embedder=embedder,
    )
    t1 = time.perf_counter()
    warm_up(engine, args.seed)
    warmup_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - T_START - calib_before

    # ---- timed window
    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        tracer.install(type(corpus))
    window = Window(engine, ops(args.seed, rounds, traced=tracer is not None), clients, tracer)
    cpu0 = tree_cpu_s(os.getpid())
    start, end = window.run()
    cpu_s = tree_cpu_s(os.getpid()) - cpu0
    driver_mb, (heap_mb, nonheap_mb) = hwm_mb(os.getpid()), jvm_live_mb(spark)
    mem_mb = driver_mb + heap_mb + nonheap_mb
    if tracer is not None:
        tracer.uninstall()
    records = window.records

    # ---- correctness, outside the window
    pdf = corpus.select(
        "_id",
        "title",
        F.col("product.available").alias("available"),
        F.col("product.price.amount").alias("price"),
        F.col("restaurantName").alias("restaurant"),
        F.col("emb_description").alias("emb"),
    ).toPandas()
    ref = Reference(pdf, lambda text: query_vector(text, embedder=embedder))
    failed, recalls, reasons = check_records(records, ref)

    lat = {m: [r["latency_ms"] for r in records if r["mode"] == m and r["error"] is None]
           for m in (*MODES, "restaurants")}
    searches = sum(r["mode"] in MODES for r in records)
    tail_ms, tail_pct = tail([r["latency_ms"] for r in records if r["error"] is None])
    e2e = {
        "setup_s": (setup_s, 1),
        **{f"{m}_p50_ms": (median(lat[m]), len(lat[m])) for m in MODES},
        "tail_ms": (tail_ms, len(records)),
        "throughput_per_s": (searches / (end - start), searches),
        "cpu_ms_per_op": (cpu_s * 1000.0 / searches, searches),
        "mem_mb": (mem_mb, 2),
        "recall_at_k": (statistics.fmean(recalls) if recalls else float("nan"), len(recalls)),
        "failed_share": (failed / len(records), len(records)),
        "rows_per_s": (rows / corpus_s, 1),
    }

    layers: dict[str, tuple[float, int]] = {}
    if tracer is not None:
        samples: dict[str, list[float]] = dict(tracer.span_metrics())
        counts = tracer.job_counts()
        for mode in MODES:
            for k in ("jobs", "stages", "tasks"):
                samples[f"spark.{k}_per_req.{mode}"] = counts[mode][k]
            traced = [r["latency_ms"] for r in records
                      if r["mode"] == mode and not r["filtered"] and r["traced"]]
            plain = [r["latency_ms"] for r in records
                     if r["mode"] == mode and not r["filtered"] and not r["traced"]]
            layers[f"trace.overhead_ms.{mode}"] = (median(traced) - median(plain), len(traced))
        samples.update(tracer.replay())
        for name, xs in samples.items():
            layers[name] = (median(xs), len(xs))
        layers["session.start_s"] = (session_s, 1)
        corpus.unpersist()
        layers.update({k: (v, 1) for k, v in setup_layers(catalogs, embedder).items()})
        tracer.write(str(OUT / f"spans-{args.workload}-seed{args.seed}.jsonl"))

    with open(OUT / f"requests-{args.workload}-seed{args.seed}-trace{args.trace}.jsonl", "w") as f:
        for r in records:
            f.write(json.dumps({k: r[k] for k in ("mode", "payload", "filtered", "traced",
                                                   "latency_ms", "error")}) + "\n")
    stop_spark(spark)
    steal1, total1 = cpu_times()
    calib_after = calibrate()

    # ---- report
    print(f"workload {args.workload} ({WORKLOADS[args.workload]}: {clients} closed-loop "
          f"client(s)) seed {args.seed} trace {args.trace} corpus_seed {CORPUS_SEED} "
          f"rows {rows} dim {DIM}")
    print(f"settings SPARK_GRAFT_CPUS={cpus} SPARK_GRAFT_DRIVER_MEM={args.driver_mem} "
          f"rounds {rounds}")
    print(f"phases session_s {session_s:.2f} corpus_s {corpus_s:.2f} warmup_s {warmup_s:.2f} "
          f"window_s {end - start:.2f} after_window_s {time.perf_counter() - end:.2f}")
    print(f"context calibration_s before {calib_before:.4f} after {calib_after:.4f} "
          f"steal_share {(steal1 - steal0) / max(1, total1 - total0):.4f} loadavg {loadavg()}")
    print(f"memory driver_hwm_mb {driver_mb:.1f} jvm_heap_live_mb {heap_mb:.1f} "
          f"jvm_nonheap_mb {nonheap_mb:.1f}")
    units = {**END_TO_END, **REPORTED_ONLY}
    for name, (value, n) in e2e.items():
        print(f"metric {name} {value:.6g} {units[name]} n={n}"
              + (f" p{tail_pct:.1f}" if name == "tail_ms" else ""))
    for mode in (*MODES, "restaurants"):
        print(f"ops {mode} n={sum(r['mode'] == mode for r in records)}")
    for name, (value, n) in layers.items():
        print(f"layer {name} {value:.6g} {PER_LAYER[name]} n={n}")
    for why in reasons[:20]:
        print(f"failed {why}")

    wanted = PER_LAYER if args.trace else END_TO_END
    chosen = layers if args.trace else e2e
    missing = [k for k in wanted if k not in chosen or chosen[k][0] != chosen[k][0]]
    if missing:
        print(f"perfbench: no samples for {', '.join(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": float(chosen[k][0]), "unit": wanted[k]} for k in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
