#!/usr/bin/env python3
"""Self-test of the benchmark itself:

    python3 perfbench/selftest.py

1. The request stream: the same seed gives the same ops, and every round
   holds each mode five times, once filtered, with as many traced as
   untraced unfiltered requests in a traced run.
2. The result check, on a small synthetic corpus: the reference's own answer
   passes in every mode, while swapped ids, a dropped row, a row the filter
   excludes and a wrong score each count as failed.
3. A tiny-corpus run of every workload, untraced and traced, exits 0 and
   prints every metric name with its unit, with no failed op.
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
from pathlib import Path

import pandas as pd

BENCH = Path(__file__).resolve().parent
sys.path[:0] = [str(BENCH), str(BENCH.parent)]

from reference import Reference, check  # noqa: E402
from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402
from stream import MODES, ops  # noqa: E402

from hybrid_vector_search_spark.operators.embed import HashingEmbedder  # noqa: E402


def synthetic_reference() -> Reference:
    rng = random.Random(5)
    emb = HashingEmbedder(16)
    titles = ["Menu Ejecutivo Flex", "Combo Familiar (Cena)", "Pack Desayuno Doble", "Menu Infantil"]
    rows = [
        {
            "_id": f"{i:024x}",
            "title": rng.choice(titles),
            "available": rng.random() < 0.5,
            "price": round(rng.uniform(2.5, 25.0), 2),
            "restaurant": rng.choice(["CITY 01", "CITY 02", None]),
            "emb": emb.embed_one(f"pollo {rng.randint(0, 50)} frescos {i}"),
        }
        for i in range(40)
    ]
    return Reference(pd.DataFrame(rows), lambda text: [float(x) for x in emb.embed_one(text)])


def check_the_stream() -> None:
    def key(run):
        return [(op.mode, op.payload, op.traced) for op in run]

    assert key(ops(9, 2, traced=True)) == key(ops(9, 2, traced=True)), "stream not seeded"
    assert key(ops(9, 2, traced=True)) != key(ops(10, 2, traced=True)), "seed ignored"
    run = ops(9, 2, traced=True)
    for mode in MODES:
        mine = [op for op in run if op.mode == mode]
        plain = [op for op in mine if not op.filtered]
        assert len(mine) == 10 and len(plain) == 8, (mode, len(mine), len(plain))
        assert sum(op.traced for op in plain) == 4, mode
    assert [op.traced for op in run if op.mode == "restaurants"] == [True, True]
    assert not any(op.traced for op in ops(9, 2, traced=False))
    print("selftest: the stream is seeded and holds the fixed mix")


def check_the_checker() -> None:
    ref = synthetic_reference()
    payloads = [
        {"mode": "vector", "description": "pollo frescos", "limit": 6},
        {"mode": "fulltext", "title": "menu cena", "limit": 6},
        {"mode": "hybrid", "description": "pollo 7", "title": "combo", "limit": 6},
    ]
    for p in payloads:
        expected, allowed = ref.expected(p)
        answer = [{"_id": i, "score": s} for i, s in expected]
        assert len(answer) == 6, (p, answer)
        assert check(expected, allowed, answer)[:2] == (True, 1.0), p
        swapped = [dict(r) for r in answer]
        swapped[0]["_id"], swapped[-1]["_id"] = swapped[-1]["_id"], swapped[0]["_id"]
        assert not check(expected, allowed, swapped)[0], ("swapped ids passed", p)
        assert not check(expected, allowed, answer[:-1])[0], ("short answer passed", p)
        off = [dict(r) for r in answer]
        off[2]["score"] += 1e-4
        assert not check(expected, allowed, off)[0], ("wrong score passed", p)
    filtered = {"mode": "vector", "description": "pollo", "available": True, "limit": 3}
    expected, allowed = ref.expected(filtered)
    unfiltered, _ = ref.expected({**filtered, "available": None})
    excluded = next(i for i, _ in unfiltered if i not in allowed)
    bad = [{"_id": i, "score": s} for i, s in expected[:-1]] + [{"_id": excluded, "score": 1.0}]
    assert not check(expected, allowed, bad)[0], "row outside the filter passed"
    print("selftest: result check rejects swapped, short, off-score and unfiltered answers")


def tiny_runs() -> None:
    for workload in sorted(WORKLOADS):
        for trace, wanted in ((0, END_TO_END), (1, PER_LAYER)):
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = proc.stdout.strip().splitlines()
            assert proc.returncode == 0 and lines, (cmd, proc.returncode, proc.stderr[-3000:])
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, lines
            assert {k: v["unit"] for k, v in result["metrics"].items()} == wanted, result
            shown = {ln.split()[1]: ln.split()[3] for ln in lines
                     if ln.startswith(("metric ", "layer "))}
            for name, unit in wanted.items():
                assert shown.get(name) == unit, (name, unit, shown.get(name))
            print(f"selftest: {workload} trace {trace}: {len(wanted)} metrics, "
                  f"{result['attempted']} ops, 0 failed")


if __name__ == "__main__":
    check_the_stream()
    check_the_checker()
    tiny_runs()
