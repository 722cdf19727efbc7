"""Run every workload of ``BENCHMARK.json`` and print its metrics.

    python3 perfbench/report.py [--seed N] [--seconds S] [--trace]

Run from the root of a checkout. Each workload runs ``run.py`` once
untraced (and once traced with ``--trace``); the report lists every
metric by name with its unit, the failure ratio and, when traced, the
tracing overhead and which layer span was largest.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    lines = p.stdout.strip().splitlines()
    notes = {}
    for line in lines[:-1]:
        kind, _, body = line.partition(" ")
        notes[kind] = json.loads(body)
    return json.loads(lines[-1]), notes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    seconds = args.seconds or contract["run_seconds"]
    ok = True
    for w in contract["workloads"]:
        for trace in (0, 1) if args.trace else (0,):
            res, notes = run(w["name"], args.seed, seconds, trace)
            ok &= res["correct"]
            print(f"== {w['name']} trace={trace} correct={res['correct']} "
                  f"fail_ratio={res['failed'] / res['attempted']:.3f} ({res['failed']}/{res['attempted']})")
            for name, m in res["metrics"].items():
                print(f"  {name:30s} {m['value']:14.6g} {m['unit']}")
            if "trace" in notes:
                print(f"  trace: {json.dumps(notes['trace'])}")
        print(f"  host: {json.dumps(notes.get('host', {}))}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
