"""Measurement plumbing for the benchmark: Spark session lifetime,
operation counting, percentiles, tracing spans read from Spark's status
store, store layout walks and run metadata.

Nothing here knows which workload runs; ``pipeline.py`` drives the
engine and calls into these helpers.
"""

from __future__ import annotations

import math
import os
import platform
import statistics
import sys
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# Spark session


def start_spark(work_dir: str, cores: int):
    """Start the engine's session on ``local[cores]`` with every scratch
    directory Spark and Python use inside ``work_dir``.  Returns
    ``(spark, seconds)``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM launcher, Python workers and Spark's block manager all
    # pick their scratch space from these; keep every write in the
    # checkout the benchmark runs from
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # every JVM Spark launches (its launcher too): temp files here, and no
    # hsperfdata file, which HotSpot writes under /tmp whatever tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""),
                    "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}") if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from eaststorm_searchengine_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (the
    Python workers are the JVM's children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the launcher exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def kill_spark() -> None:
    """Last-resort teardown for the watchdog: kill the JVM and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------------------
# operation counting and summary statistics


class OpLog:
    """Attempted / succeeded / failed per operation type, keeping each
    exception's class.  Nothing is retried: a failed operation is
    recorded once and the caller moves on."""

    def __init__(self):
        self._lock = threading.Lock()
        self.ops: dict[str, dict] = {}

    def _entry(self, op: str) -> dict:
        return self.ops.setdefault(
            op, {"attempted": 0, "succeeded": 0, "failed": 0, "errors": {}}
        )

    @contextmanager
    def attempt(self, op: str):
        """Count one attempt of ``op``; yields a dict whose ``ok`` is
        True after the body returns.  The exception is swallowed after
        being counted, so a failure is visible only through the log."""
        res = {"ok": False, "error": None}
        with self._lock:
            self._entry(op)["attempted"] += 1
        try:
            yield res
        except Exception as e:  # noqa: BLE001 — counted, never retried
            with self._lock:
                ent = self._entry(op)
                ent["failed"] += 1
                name = type(e).__name__
                ent["errors"][name] = ent["errors"].get(name, 0) + 1
            res["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            print(f"[perfbench] {op} failed: {res['error']}", file=sys.stderr)
        else:
            res["ok"] = True
            with self._lock:
                self._entry(op)["succeeded"] += 1

    def totals(self) -> tuple[int, int]:
        att = sum(e["attempted"] for e in self.ops.values())
        fail = sum(e["failed"] for e in self.ops.values())
        return att, fail


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; a failed sample is ``inf`` and is
    ranked last, so once failures reach the quantile it reads as
    ``inf`` (nearest rank)."""
    if not values:
        raise ValueError("quantile of no samples")
    v = sorted(values)
    if math.isinf(v[-1]):
        return v[max(0, math.ceil(q * len(v)) - 1)]
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def run_parallel(*fns):
    """Run callables on concurrent driver threads that inherit the
    caller's Spark local properties; return their results in order and
    re-raise the first exception."""
    from pyspark import InheritableThread

    results: list = [None] * len(fns)
    errors: list = []

    def wrap(i, fn):
        try:
            results[i] = fn()
        except Exception as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [InheritableThread(target=wrap, args=(i, fn)) for i, fn in enumerate(fns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def median(values: list[float]) -> float:
    return statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ---------------------------------------------------------------------------
# tracing


def _seconds(opt_date, default: float) -> float:
    """A status-store ``Option[Date]`` as epoch seconds."""
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else default


class Tracer:
    """Spans around each public engine call, with that call's Spark jobs
    and stages as child spans read back from the status store.

    A traced call runs under its own job group (``pb-<request id>``);
    jobs a call starts on threads that do not inherit the group
    (Structured Streaming's micro-batch thread) are attributed to a call
    marked ``ungrouped=True`` when they start inside its interval and
    carry no ``pb-`` group.  With ``enabled=False`` a call only records
    its own wall-clock span."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.calls: list[dict] = []
        self._lock = threading.Lock()
        self._next_id = 0
        self._epoch = time.time()

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def _newest_job_id(self) -> int:
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    @contextmanager
    def call(self, layer: str, name: str, ungrouped: bool = False, traced: bool = True):
        """Span one public call.  Yields the call record; its ``wall_s``
        is set when the body returns, before the status store is read,
        so tracing cost stays outside the measured interval."""
        on = self.enabled and traced
        rid = self._new_id()
        rec = {"rid": rid, "layer": layer, "name": name, "traced": on, "jobs": []}
        if on:
            watermark = self._newest_job_id()
            self.sc.setJobGroup(f"pb-{rid}", f"{layer}:{name}")
        t0 = time.time()
        p0 = time.perf_counter()
        ok = False
        try:
            yield rec
            ok = True
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            rec["start"], rec["end"] = t0, t0 + rec["wall_s"]
            rec["ok"] = ok
            if on:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self._collect(rec, watermark, ungrouped)
            with self._lock:
                self.calls.append(rec)

    def _collect(self, rec: dict, watermark: int, ungrouped: bool) -> None:
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — fall back to a short settle
            time.sleep(0.2)
        store = jsc.statusStore()
        group = f"pb-{rec['rid']}"
        jobs = store.jobsList(None)  # newest first
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = int(j.jobId())
            if jid <= watermark:
                break
            g = j.jobGroup().get() if j.jobGroup().isDefined() else ""
            sub = _seconds(j.submissionTime(), rec["start"])
            mine = g == group or (
                ungrouped and not g.startswith("pb-") and rec["start"] <= sub <= rec["end"])
            if not mine:
                continue
            end = _seconds(j.completionTime(), rec["end"])
            job = {"job_id": jid, "name": str(j.name()), "start": sub, "end": end, "stages": []}
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = int(sids.apply(k))
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted or never ran
                    continue
                if str(st.status().toString()) != "COMPLETE":
                    continue
                job["stages"].append({
                    "stage_id": sid,
                    "name": str(st.name()),
                    "start": _seconds(st.submissionTime(), sub),
                    "end": _seconds(st.completionTime(), end),
                    "tasks": int(st.numTasks()),
                    "run_ms": int(st.executorRunTime()),
                    "cpu_ns": int(st.executorCpuTime()),
                    "gc_ms": int(st.jvmGcTime()),
                    "input_bytes": int(st.inputBytes()),
                    "shuffle_read_bytes": int(st.shuffleReadBytes()),
                    "shuffle_write_bytes": int(st.shuffleWriteBytes()),
                    "spill_bytes": int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
                })
            rec["jobs"].append(job)
        rec["jobs"].sort(key=lambda x: x["job_id"])

    # -- derived views -------------------------------------------------

    @staticmethod
    def job_intervals(rec: dict) -> list[tuple[float, float]]:
        return clipped([(j["start"], j["end"]) for j in rec["jobs"]], rec["start"], rec["end"])

    @staticmethod
    def stage_sum(rec: dict, key: str) -> int:
        return sum(s[key] for j in rec["jobs"] for s in j["stages"])

    def span_records(self) -> list[dict]:
        """Flatten calls → spans: (id, name, start, end, parent, request
        id), times in seconds since the tracer started."""
        out = []
        for rec in self.calls:
            cid = f"c{rec['rid']}"
            base = {"request_id": rec["rid"]}
            out.append({**base, "id": cid, "name": f"{rec['layer']}.{rec['name']}",
                        "layer": rec["layer"], "start": rec["start"] - self._epoch,
                        "end": rec["end"] - self._epoch, "parent": None, "ok": rec["ok"],
                        "traced": rec["traced"]})
            for j in rec["jobs"]:
                jid = f"j{j['job_id']}"
                out.append({**base, "id": jid, "name": f"job {j['job_id']}: {j['name']}",
                            "layer": rec["layer"], "start": j["start"] - self._epoch,
                            "end": j["end"] - self._epoch, "parent": cid})
                for s in j["stages"]:
                    out.append({**base, "id": f"s{s['stage_id']}",
                                "name": f"stage {s['stage_id']}: {s['name']}",
                                "layer": rec["layer"], "start": s["start"] - self._epoch,
                                "end": s["end"] - self._epoch, "parent": jid,
                                "tasks": s["tasks"], "run_ms": s["run_ms"]})
        return out

    @staticmethod
    def self_times(spans: list[dict]) -> dict:
        """Per layer and span kind: summed duration minus what each
        span's children cover (self time)."""
        kids: dict = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict = {}
        for s in spans:
            kind = s["id"][0]
            key = f"{s['layer']}.{ {'c': 'call', 'j': 'job', 's': 'stage'}[kind] }"
            cover = union_length(clipped(kids.get(s["id"], []), s["start"], s["end"]))
            ent = out.setdefault(key, {"total_s": 0.0, "self_s": 0.0, "spans": 0})
            ent["total_s"] += s["end"] - s["start"]
            ent["self_s"] += (s["end"] - s["start"]) - cover
            ent["spans"] += 1
        return out


# ---------------------------------------------------------------------------
# store layout


COMPONENTS = ("segments", "term_stats", "doclens")


def commit_times(index_dir: str) -> dict:
    """Component → wall-clock time its last file was written (Spark
    writes ``_SUCCESS`` when a write job commits)."""
    out = {}
    for comp in COMPONENTS + ("lineage",):
        latest = 0.0
        for d, _dirs, fs in os.walk(os.path.join(index_dir, comp)):
            for f in fs:
                latest = max(latest, os.path.getmtime(os.path.join(d, f)))
        out[comp] = latest
    return out


def store_layout(index_dir: str) -> dict:
    """Files, bytes and fragments per component of an index store: the
    engine's public ``fragment_stats`` for the segment fragments plus a
    directory walk for everything."""
    from eaststorm_searchengine_spark.streaming.incremental import fragment_stats

    out = {}
    for comp in COMPONENTS:
        root = os.path.join(index_dir, comp)
        files = nbytes = 0
        frags = set()
        for d, _dirs, fs in os.walk(root):
            pq = [f for f in fs if f.endswith(".parquet")]
            if not pq:
                continue
            files += len(pq)
            nbytes += sum(os.path.getsize(os.path.join(d, f)) for f in pq)
            rel = os.path.relpath(d, root)
            frags.add(next((p for p in rel.split(os.sep) if p.startswith("stream_batch=")), ""))
        out[comp] = {"files": files, "bytes": nbytes, "fragments": len(frags)}
    out["segments"]["fragments"] = fragment_stats(index_dir)["n_fragments"]
    out["total_bytes"] = sum(out[c]["bytes"] for c in COMPONENTS)
    return out


# ---------------------------------------------------------------------------
# run metadata


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop.  Labels how fast the host
    ran at the time; it never corrects a measurement."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def git_commit(root: str) -> str:
    """HEAD commit read from ``.git`` without running git; "unknown"
    outside a repository."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD"), encoding="utf-8") as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs"), encoding="utf-8") as fh:
            for line in fh:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def run_metadata(spark, seed: int, cores: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "seed": seed,
        "git_commit": git_commit(os.getcwd()),
        "nproc": cores,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": str(sc._jvm.System.getProperty("java.version")),
        "platform": platform.platform(),
        "spark_conf": dict(sorted(sc.getConf().getAll())),
    }
