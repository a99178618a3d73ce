"""Tiny-scale self-check of the benchmark: asserts that ``moves.py``
names, for every per-layer metric, end-to-end metrics and workloads that
exist; then runs every workload at the ``tiny`` scale (a few hundred
documents, seconds of measuring), untraced and traced, and asserts that
each run passes its output checks and emits every metric
``BENCHMARK.json`` names, with its unit.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def check_moves(spec: dict) -> list[str]:
    """Problems with the per-layer → end-to-end map of ``moves.py``."""
    sys.path.insert(0, os.getcwd())
    from perfbench.moves import MOVES, STANDS_FOR

    layer = {m["name"] for m in spec["per_layer"]}
    targets = {m["name"] for m in spec["end_to_end"]} | set(STANDS_FOR)
    workloads = {w["name"] for w in spec["workloads"]}
    problems = [f"{m}: not in moves.py" for m in sorted(layer - set(MOVES))]
    problems += [f"{m}: in moves.py, not a per-layer metric" for m in sorted(set(MOVES) - layer)]
    problems += [f"{m}: stands for an end-to-end measure but is not per-layer"
                 for m in sorted(set(STANDS_FOR) - layer)]
    for m, moves in MOVES.items():
        if not moves and m not in STANDS_FOR and m != "trace.query_overhead_ms":
            problems.append(f"{m}: moves nothing")
        for target, ws in moves:
            if target not in targets:
                problems.append(f"{m}: target {target} is not an end-to-end measure")
            problems += [f"{m}: unknown workload {w}" for w in ws if w not in workloads]
    return problems


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    problems = check_moves(spec)
    for p in problems:
        print(f"FAIL moves: {p}")
    print(f"{'FAIL' if problems else 'ok'} moves.py: {len(spec['per_layer'])} per-layer metrics")
    bad = len(problems)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "1", "--seconds", "2",
                                     "--trace", str(trace), "--scale", "tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"FAIL {w['name']} trace={trace}: no result line (exit {proc.returncode})")
                print(proc.stderr[-2000:])
                bad += 1
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            problems = []
            if proc.returncode != 0 or not out["correct"]:
                problems.append(f"exit {proc.returncode}, correct={out['correct']}")
            if got != want:
                problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, units "
                                f"{sorted(k for k in want if k in got and got[k] != want[k])}")
            if out["attempted"] < 1:
                problems.append("no operation attempted")
            status = "FAIL" if problems else "ok"
            bad += bool(problems)
            print(f"{status} {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{out['attempted']} ops, {out['failed']} failed {'; '.join(problems)}")
    return 1 if bad else 0


if __name__ == "__main__":
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("run from the repository root")
    sys.exit(main())
