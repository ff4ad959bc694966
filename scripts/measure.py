"""Optimization measurement helper.

For each named query: capture .explain('formatted') to
plans/<round>/<q>_<tag>.txt and time the exec half (schema-forced build
excluded) with the noop sink per guide §1.4 — N runs, min reported. Solo use
only (contends for all cores).

Usage: python scripts/measure.py <round> <tag> <query> [<query> ...]
       e.g. python scripts/measure.py r15 before fulltext_bm25
       SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored as in bench.py.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

USAGE = "usage: python scripts/measure.py <round> <tag> <query> [<query> ...]"


def main() -> None:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    unknown = [n for n in sys.argv[3:] if n not in qs]
    if len(sys.argv) < 4 or unknown:
        if unknown:
            print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        print(USAGE, file=sys.stderr)
        print("known queries:\n  " + "\n  ".join(sorted(qs)), file=sys.stderr)
        sys.exit(2)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    from hybrid_vector_search_spark.session import get_spark

    spark = get_spark(f"measure-{rnd}")
    spark.range(1).count()
    spark.range(256).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()

    outdir = REPO / "plans" / rnd
    outdir.mkdir(parents=True, exist_ok=True)
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"{rnd}-measure {name}")
        # warm (absorbs first-touch/codegen; matches bench min-of-n semantics)
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        (outdir / f"{name}_{tag}.txt").write_text(plan)
        df.collect()
        best_e2e = best_exec = best_noop = None
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            _ = df.schema
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            e2e, ex, noop = t2 - t0, t2 - t1, t3 - t2
            best_e2e = e2e if best_e2e is None or e2e < best_e2e else best_e2e
            best_exec = ex if best_exec is None or ex < best_exec else best_exec
            best_noop = noop if best_noop is None or noop < best_noop else best_noop
        n_ex = plan.count("Exchange")
        n_reuse = plan.count("ReusedExchange")
        print(
            f"{name}: e2e {best_e2e:.3f}s exec {best_exec:.3f}s noop {best_noop:.3f}s"
            f" | Exchange {n_ex} (reused {n_reuse}) | plan -> plans/{rnd}/{name}_{tag}.txt",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
