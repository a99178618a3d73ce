"""Benchmark of the EastStorm-Spark engine over one seeded corpus: index
build and BM25 serving in every run; traced runs add incremental ingest,
near-duplicate detection and single-layer timings.

Run from the repository root:

    python3 perfbench/run.py --workload pages --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric of ``BENCHMARK.json``;
``--trace 1`` traces each public engine call (spans with the call's
Spark jobs and stages as children) and prints every per-layer metric.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  A failed output
check makes ``correct`` false and the exit code 1.  The full run record
(metadata, operation counts, store layouts, spans, self times) is
written to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import threading
import time
import traceback

WORKLOADS = ("pages", "zipf")
DEADLINE_S = 170  # the run must end within 180 s


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: seconds-long self-check sizes")
    return ap.parse_args(argv)


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(os.getcwd(), "eaststorm_searchengine_spark", "__init__.py"))


def _watchdog(seconds: float) -> threading.Timer:
    def fire():
        print(f"[perfbench] deadline of {seconds:.0f} s passed; stopping", file=sys.stderr)
        try:
            from perfbench import harness

            harness.kill_spark()
        finally:
            os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    args = _parse(argv)
    if not _engine_present():
        print("perfbench: run from the repository root (eaststorm_searchengine_spark/ "
              "not found in the working directory)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    from perfbench import harness as H
    from perfbench.pipeline import Run

    with open(os.path.join(os.getcwd(), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    dog = _watchdog(DEADLINE_S)
    work = os.path.join(os.getcwd(), ".perfbench_work", args.workload)
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    probe_before = H.cpu_probe()
    cores = len(os.sched_getaffinity(0))
    spark, session_s = H.start_spark(work, cores)
    record: dict = {}
    try:
        tracer = H.Tracer(spark, enabled=bool(args.trace))
        ops = H.OpLog()
        run = Run(spark, tracer, ops, args.workload, args.scale, args.seed,
                  args.seconds, work, cores)
        phases = [run.setup, run.phase_build, run.phase_serve]
        if args.trace:
            phases += [run.phase_dedup, run.phase_ingest, run.layer_textproc, run.layer_codec]
        phase_s = {}
        for ph in phases:
            t0 = time.perf_counter()
            ph(session_s) if ph == run.setup else ph()
            phase_s[ph.__name__] = time.perf_counter() - t0
        record = {
            "meta": H.run_metadata(spark, args.seed, cores),
            "args": vars(args),
            "phase_s": phase_s,
            "ops": ops.ops,
            "checks": run.checks,
            "end_to_end": run.metrics,
            "per_layer": run.layers,
            **run.record,
        }
        record["calls"] = [{k: v for k, v in c.items() if k != "jobs"} for c in tracer.calls]
        if args.trace:
            from perfbench.moves import MOVES, STANDS_FOR

            spans = tracer.span_records()
            record["spans"] = spans
            record["self_times"] = H.Tracer.self_times(spans)
            record["moves"] = {"per_layer": MOVES, "stands_for": STANDS_FOR}
    finally:
        H.stop_spark(spark)
    record.setdefault("meta", {})["cpu_probe_s"] = {"before": probe_before, "after": H.cpu_probe()}
    dog.cancel()

    got = run.layers if args.trace else run.metrics
    metrics = {}
    for m in wanted:
        if m["name"] not in got:
            raise KeyError(f"metric {m['name']} was not measured")
        value, unit = got[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"metric {m['name']}: unit {unit} != {m['unit']}")
        # a latency whose quantile landed on a failed operation is
        # infinite; JSON has no infinity, so it reads as the largest float
        value = float(value)
        metrics[m["name"]] = {"value": value if math.isfinite(value) else sys.float_info.max,
                              "unit": unit}
    rec_dir = os.path.join(os.getcwd(), ".perfbench_work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)

    correct = bool(run.checks) and all(run.checks.values())
    attempted, failed = ops.totals()
    for name, m in metrics.items():
        print(f"{name:<44} {m['value']:>14.4f} {m['unit']}")
    print(f"checks: {'all passed' if correct else 'FAILED'}; ops attempted {attempted}, "
          f"failed {failed}; record {os.path.relpath(rec_path)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
