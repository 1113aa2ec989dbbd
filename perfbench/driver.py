"""One measured engine session, started by ``run.py`` as its own process.

Usage: ``python3 perfbench/driver.py CONFIG.json`` writes the raw
measurements to the ``result`` path named in the config. The session
runs the workload's operations pass after pass in one thread:

1. a cold first pass in the fresh session,
2. ``WARMUP_PASSES`` warm-up passes, discarded,
3. measured passes until ``seconds`` have gone by, at least
   ``MIN_MEASURED``. In a traced run they alternate between traced
   passes (job tags plus spans) and untraced ones, so the cost of
   tracing is measured in the same session.

Results are collected and digested outside the timed regions; checking
them against their oracles is left to ``run.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check  # noqa: E402
from perfbench.eventlog import TAG_PREFIX  # noqa: E402
from perfbench.workloads import SUBMIT_JOBS, WORKLOADS, layer_of  # noqa: E402

# Measured passes at least, however short ``seconds`` is. Per-operation
# times in a fresh JVM fall by 10-30% a pass over the first few passes;
# the cold pass and the warm-up passes take that fall.
MIN_MEASURED = 3
WARMUP_PASSES = 3


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.add(child)
            todo.append(child)
    return out


class Session:
    """The engine session plus the spans of the calls made into it."""

    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.input_dir = cfg["input_dir"]
        self.out_dir = Path(cfg["run_dir"]) / "out"
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: int | None, op: str | None) -> int:
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "op": op})
        return len(self.spans) - 1

    def start(self) -> float:
        """Start the session; returns seconds since the process was spawned."""
        w0 = time.time()
        from map_reduce_lite_spark.session import get_spark

        # The engine pre-sizes the driver heap (-Xms = driver memory), so
        # the JVM's peak RSS would read the heap size. A small initial
        # heap grows only as far as the workload's data and garbage need.
        conf = {"spark.driver.extraJavaOptions": "-Xms64m"}
        if self.cfg["trace"]:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": Path(self.cfg["run_dir"], "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        w1 = time.time()
        self.spark.range(1).count()
        w2 = time.time()
        root = self.span("session.start", w0, w2, None, None)
        self.span("session.get_spark", w0, w1, root, None)
        self.span("session.first_action", w1, w2, root, None)
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid

        import __spark_entry__ as entry
        from map_reduce_lite_spark.engine import Engine

        self.queries = entry.queries()
        self.engine = Engine(self.spark)
        return w2 - self.cfg["spawn_time"]

    def run_op(self, op: str, op_id: str, traced: bool, parent: int | None) -> dict:
        """Run one operation; time it, then digest its result untimed."""
        submit = op.startswith("submit:")
        layer = "engine" if submit else layer_of(self.queries[op].__module__)
        rec = {"op": op, "op_id": op_id, "layer": layer, "error": None, "digest": None}
        if traced:
            self.sc.addJobTag(op_id)
        w0 = time.time()
        t0 = time.perf_counter()
        t1 = None  # end of the builder call
        try:
            if submit:  # builds and writes in one call: all of it is action
                job = op.split(":", 1)[1]
                out = self.out_dir / job
                t1 = t0
                self.engine.submit(job, f"{self.input_dir}/corpus/{SUBMIT_JOBS[job]}/*.txt",
                                   output=str(out))
                t2 = time.perf_counter()
            else:
                df = self.queries[op](self.spark, self.input_dir)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            t2 = time.perf_counter()
            t1 = t2 if t1 is None else t1
        finally:
            if traced:
                self.sc.clearJobTags()
        w2 = w0 + (t2 - t0)
        rec.update(build_s=t1 - t0, action_s=t2 - t1, total_s=t2 - t0, start=w0, end=w2)
        if traced:
            sid = self.span(f"{layer}.op", w0, w2, parent, op_id)
            if submit:
                self.span("engine.submit", w0, w2, sid, op_id)
            else:
                self.span(f"{layer}.build", w0, w0 + (t1 - t0), sid, op_id)
                self.span(f"{layer}.action", w0 + (t1 - t0), w2, sid, op_id)
        if rec["error"] is None:
            if submit:
                files = list(out.glob("part-*"))
                rec["out_files"] = len(files)
                rec["out_bytes"] = sum(f.stat().st_size for f in files)
                rec["digest"] = check.read_output(out)
            else:
                rec["digest"] = check.digest(df.columns, rows)
        return rec

    def run_pass(self, index: int, kind: str) -> dict:
        traced = kind == "traced"
        pid = self.span(f"pass.{kind}", 0.0, 0.0, None, None) if traced else None
        w0 = time.time()
        t0 = time.perf_counter()
        ops = [
            self.run_op(op, f"{TAG_PREFIX}{index}-{k}", traced, pid)
            for k, op in enumerate(WORKLOADS[self.cfg["workload"]].ops)
        ]
        loop_s = time.perf_counter() - t0
        if traced:
            self.spans[pid].update(start=w0, end=w0 + loop_s)
        # wall_s is the engine's own time; loop_s adds the benchmark's
        # digesting and, in traced passes, its tracing
        return {"index": index, "kind": kind, "loop_s": loop_s,
                "wall_s": sum(r["total_s"] for r in ops), "ops": ops}

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(self.jvm_pid)

    def stop(self) -> None:
        """Stop the session and wait for the JVM and its Python workers."""
        proc = self.sc._gateway.proc
        procs = _descendants(proc.pid)
        self.spark.stop()
        self.sc._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on end of input
        proc.wait(timeout=60)
        deadline = time.time() + 30
        while any(Path(f"/proc/{p}").exists() for p in procs) and time.time() < deadline:
            time.sleep(0.1)


def main(cfg_path: str) -> None:
    cfg = json.loads(Path(cfg_path).read_text())
    session = Session(cfg)
    setup_s = session.start()
    versions = {
        "spark": session.spark.version,
        "java": session.spark._jvm.java.lang.System.getProperty("java.version"),
    }
    passes = [session.run_pass(0, "cold")]
    passes += [session.run_pass(i, "warmup") for i in range(1, 1 + WARMUP_PASSES)]
    t_measure = time.perf_counter()
    kinds = ("traced", "untraced") if cfg["trace"] else ("untraced",)
    while True:
        measured = len(passes) - 1 - WARMUP_PASSES
        if measured >= MIN_MEASURED and time.perf_counter() - t_measure >= cfg["seconds"]:
            break
        passes.append(session.run_pass(len(passes), kinds[measured % len(kinds)]))
    peak_rss_mb = session.peak_rss_mb()
    session.stop()
    Path(cfg["result"]).write_text(json.dumps({
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "versions": versions,
        "passes": passes,
        "spans": session.spans,
    }))


if __name__ == "__main__":
    main(sys.argv[1])
