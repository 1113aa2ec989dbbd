"""Engine benchmark: closed-loop workloads over one local Spark session.

Usage:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the seed's inputs (cached, untimed), starts ``driver.py`` as a
fresh process that runs the workload (see its docstring for the pass
protocol), checks every operation's result against its oracle, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones:

- ``setup_s``: process start until the session has run a trivial action;
- ``first_pass_s``: the first pass over the operations, in that session;
- ``pass_s``: median of the measured warm passes;
- ``op_geomean_s``: geometric mean over operations of each one's median
  warm time;
- ``rows_per_s``: input rows the workload reads per pass / ``pass_s``;
- ``peak_rss_mb``: peak resident memory of the driver Python process plus
  the driver JVM, whose heap starts small and grows as the workload
  needs (see ``driver.Session.start``).

With ``--trace 1`` they are the per-layer metrics of ``layers.py``; the
spans go to ``.perfbench/traces/`` in the checkout. Everything the
benchmark writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check, eventlog, inputs  # noqa: E402
from perfbench.layers import layer_metrics  # noqa: E402
from perfbench.workloads import SUBMIT_JOBS, WORKLOADS  # noqa: E402

WORK = ROOT / ".perfbench"
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}
KEEP_SEEDS = 4  # input directories kept in the cache
CHILD_TIMEOUT_S = 160


def host_settings() -> dict[str, str]:
    """Engine settings sized from this host: every core, and a driver heap
    of at most an eighth of memory, between 512 MiB and 1 GiB. The inputs
    are a few MB, and the engine's 24 GiB default cannot be mapped on a
    small host."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = int(Path("/proc/meminfo").read_text().split("\n")[0].split()[1])
    limit = Path("/sys/fs/cgroup/memory.max")
    if limit.exists() and limit.read_text().strip() != "max":
        mem_kb = min(mem_kb, int(limit.read_text()) // 1024)
    heap_mb = max(512, min(1024, mem_kb // 1024 // 8))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
    }


def _prune_cache(cache: Path, keep: Path) -> None:
    seeds = sorted(cache.glob("seed-*"), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in seeds[KEEP_SEEDS:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def run_driver(cfg: dict, env: dict[str, str]) -> dict:
    """Run one session in a fresh process; returns its raw measurements."""
    run_dir = Path(cfg["run_dir"])
    cfg_path = run_dir / "config.json"
    cfg_path.write_text(json.dumps(dict(cfg, spawn_time=time.time())))
    proc = subprocess.Popen(
        [sys.executable, str(Path(__file__).with_name("driver.py")), str(cfg_path)],
        env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise RuntimeError(f"driver exited with {code}")
    return json.loads(Path(cfg["result"]).read_text())


def expected_digests(workload: str, input_dir: Path) -> dict[str, str]:
    ops = WORKLOADS[workload].ops
    submits = [op for op in ops if op.startswith("submit:")]
    expected = check.oracle_digests([op for op in ops if op not in submits], input_dir)
    for op in submits:
        job = op.split(":", 1)[1]
        expected[op] = check.expected_output(job, input_dir / "corpus" / SUBMIT_JOBS[job])
    return expected


def end_to_end(raw: dict, rows: int) -> dict[str, float]:
    measured = [p for p in raw["passes"] if p["kind"] == "untraced"]
    pass_s = statistics.median(p["wall_s"] for p in measured)
    per_op = zip(*([op["total_s"] for op in p["ops"]] for p in measured))
    op_medians = [statistics.median(times) for times in per_op]
    return {
        "setup_s": raw["setup_s"],
        "first_pass_s": raw["passes"][0]["wall_s"],
        "pass_s": pass_s,
        "op_geomean_s": math.exp(statistics.fmean(math.log(t) for t in op_medians)),
        "rows_per_s": rows / pass_s,
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def host_loop_s() -> float:
    """Median time of a fixed single-threaded loop: a sample of the host's
    speed, so a drift between the periods two runs were taken in shows."""
    def once() -> float:
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        return time.perf_counter() - t0
    return statistics.median(once() for _ in range(5))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cache = WORK / "inputs"
    cache.mkdir(parents=True, exist_ok=True)
    input_dir = inputs.ensure(args.seed, cache)
    _prune_cache(cache, input_dir)
    spec = WORKLOADS[args.workload]
    rows = inputs.table_rows(input_dir, list(spec.tables)) + sum(
        len(p.read_text().splitlines())
        for c in spec.corpora for p in (input_dir / "corpus" / c).glob("part-*.txt")
    )
    expected = expected_digests(args.workload, input_dir)

    loop_s = host_loop_s()

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "eventlog").mkdir(parents=True)
    (run_dir / "tmp").mkdir()
    # temporary files of the driver's Python and JVM stay in the checkout
    env = dict(os.environ, TZ="UTC", TMPDIR=str(run_dir / "tmp"),
               SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={run_dir / 'tmp'}", **host_settings())
    cfg = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
           "input_dir": str(input_dir), "run_dir": str(run_dir),
           "result": str(run_dir / "result.json")}
    try:
        raw = run_driver(cfg, env)
        executions = [op for p in raw["passes"] for op in p["ops"]]
        failed, problems = check.count_failures(executions, expected)
        if args.trace:
            logs = list((run_dir / "eventlog").iterdir())
            spans = raw["spans"]
            session_s = spans[0]["end"] - spans[0]["start"]
            values = layer_metrics(raw["passes"], eventlog.parse(logs[0]),
                                   int(env["SPARK_GRAFT_CPUS"]), session_s)
            traces = WORK / "traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.json").write_text(
                json.dumps({"workload": args.workload, "seed": args.seed, "spans": spans}))
        else:
            values = end_to_end(raw, rows)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for problem in problems[:20]:
        print(f"FAILED {problem}", file=sys.stderr)
    host = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    host.update(raw["versions"], python=sys.version.split()[0], input_rows=rows,
                host_loop_s=round(loop_s, 4))
    print("host " + json.dumps(host))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(executions),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
