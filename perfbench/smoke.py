"""Self-check of the benchmark at tiny sizes.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json once untraced and once traced, with
``--smoke`` sizes and the same seed, from the root of a checkout. Asserts
that each run exits 0, passes the correctness gate, and emits exactly the
metric names and units BENCHMARK.json declares; prints the tracing
overhead (traced events/s against untraced events/s).
"""

from __future__ import annotations

import json
import subprocess
import sys

SEED = 3


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        stdout=subprocess.PIPE, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in spec["workloads"]:
        results = {}
        for trace in (0, 1):
            res = results[trace] = run(w["name"], trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], f"{w['name']} trace={trace}: {got} != {want[trace]}"
            assert res["correct"] and res["failed"] == 0, f"{w['name']}: {res}"
            assert res["attempted"] >= 1
        untraced = results[0]["metrics"]["events_per_s"]["value"]
        traced = results[1]["metrics"]["trace.events_per_s"]["value"]
        print(f"{w['name']}: ok; tracing overhead {1 - traced / untraced:+.1%} "
              f"({traced:.0f} vs {untraced:.0f} events/s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
