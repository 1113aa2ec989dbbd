"""Per-layer metrics of a traced run, from its spans and its event log.

Every value is per traced pass: the sum over the traced passes divided
by their number (``peak_exec_mem_mb`` is the largest task peak instead).
"""

from __future__ import annotations

from perfbench.eventlog import OpStats, covered_s
from perfbench.workloads import LAYERS

MB = 1024.0 * 1024.0


def layer_metrics(passes: list[dict], stats: dict[str, OpStats], cpus: int,
                  session_start_s: float) -> dict[str, float]:
    traced = [p for p in passes if p["kind"] == "traced"]
    untraced = [p for p in passes if p["kind"] == "untraced"]
    n = len(traced)
    out = {f"{layer}.{k}": 0.0 for layer in LAYERS
           for k in ("build_s", "action_s", "jobs", "driver_s")}
    total = OpStats()
    out_files = out_bytes = 0
    for p in traced:
        for op in p["ops"]:
            s = stats.get(op["op_id"], OpStats())
            layer = op["layer"]
            out[f"{layer}.build_s"] += op["build_s"]
            out[f"{layer}.action_s"] += op["action_s"]
            out[f"{layer}.jobs"] += s.jobs
            out[f"{layer}.driver_s"] += op["total_s"] - covered_s(
                s.job_intervals, op["start"], op["end"])
            out_files += op.get("out_files", 0)
            out_bytes += op.get("out_bytes", 0)
            for key, value in vars(s).items():
                if key == "peak_exec_mem_b":
                    total.peak_exec_mem_b = max(total.peak_exec_mem_b, value)
                elif key != "job_intervals":
                    setattr(total, key, getattr(total, key) + value)
    out = {k: v / n for k, v in out.items()}
    pass_s = sum(p["loop_s"] for p in traced) / n
    untraced_s = sum(p["loop_s"] for p in untraced) / len(untraced)
    layers_s = sum(out[f"{layer}.{k}"] for layer in LAYERS for k in ("build_s", "action_s"))
    mean_wall = sum(p["wall_s"] for p in traced) / n
    out.update({
        "session.start_s": session_start_s,
        "engine.output_files": out_files / n,
        "engine.output_mb": out_bytes / MB / n,
        "spark.jobs": total.jobs / n,
        "spark.stages": total.stages / n,
        "spark.tasks": total.tasks / n,
        "spark.failed_tasks": total.failed_tasks / n,
        "spark.task_run_s": total.run_ms / 1e3 / n,
        "spark.task_cpu_s": total.cpu_ns / 1e9 / n,
        "spark.gc_s": total.gc_ms / 1e3 / n,
        "spark.sched_delay_s": total.sched_delay_ms / 1e3 / n,
        "spark.shuffle_write_mb": total.shuffle_write_b / MB / n,
        "spark.shuffle_read_mb": total.shuffle_read_b / MB / n,
        "spark.shuffle_fetch_wait_s": total.fetch_wait_ms / 1e3 / n,
        "spark.spill_mb": total.spill_b / MB / n,
        "spark.peak_exec_mem_mb": total.peak_exec_mem_b / MB,
        "spark.core_busy_frac": total.run_ms / 1e3 / n / (cpus * mean_wall),
        "pyworker.boot_s": total.py_boot_ms / 1e3 / n,
        "pyworker.init_s": total.py_init_ms / 1e3 / n,
        "pyworker.run_s": total.py_run_ms / 1e3 / n,
        "pyworker.sent_mb": total.py_sent_b / MB / n,
        "pyworker.recv_mb": total.py_recv_b / MB / n,
        # a traced pass against an untraced pass of the same session
        "trace.pass_s": pass_s,
        "trace.untraced_pass_s": untraced_s,
        "trace.overhead_ratio": pass_s / untraced_s,
        # what the layers' build and action spans leave of a traced pass:
        # digesting results, reading outputs back, and tracing itself
        "trace.bench_overhead_s": pass_s - layers_s,
    })
    return out

