"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run derives its input from the seed
(perfbench/gen.py) under ``.perfbench/``, pins the engine's environment,
starts the engine ``SETUP_PROBES`` extra times only to time its set-up,
then runs one worker process (perfbench/worker.py) that holds a single
local SparkSession and drives the workload in a closed loop: one driver,
one query at a time.

The last stdout line is the result object; the line before it (``# ...``)
carries the run's details: environment, input manifest, per-step times,
verification outcome and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import generate  # noqa: E402
from stats import percentile, ratio  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Extra engine start-ups per untraced run; setup_s is the median of these
#: and the worker's own start-up.
SETUP_PROBES = 1
#: Most task threads the engine gets (`local[n]`): two, so the driver
#: thread, the JIT and GC threads and the Python workers have the other
#: CPUs of a 4-CPU host rather than contend with the tasks for them.
ENGINE_CPUS = 2
#: A run that is not done by then is killed and reported as failed.
RUN_TIMEOUT_S = 170.0
#: The driver JVM's -Xmx (spark.driver.memory); the heap starts at
#: worker.HEAP_FLOOR and grows towards this only when the driver needs it.
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if "ratio" in name or "per_input_byte" in name:
        return "ratio"
    return "count"


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def engine_cpus() -> int:
    return min(ENGINE_CPUS, len(os.sched_getaffinity(0)))


def engine_env(run_dir: str) -> dict[str, str]:
    """The environment every engine process of the run gets."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(engine_cpus())
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM of the run (the launcher included) keeps its files in the run
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


class EngineProcess:
    """A worker.py process in its own process group. `lines()` yields its
    PERFBENCH messages; `close()` returns once every process of the group
    (the JVM and its Python workers included) has ended."""

    def __init__(self, args: list[str], run_dir: str, env: dict, log_path: str, deadline: float):
        self.log = open(log_path, "ab")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-u", os.path.join(HERE, "worker.py"), *args],
            cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=self.log,
            start_new_session=True, text=True,
        )
        self.watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), self.kill)
        self.watchdog.start()

    def kill(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def lines(self):
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                yield time.perf_counter() - self.t0, json.loads(line[len("PERFBENCH "):])

    def close(self) -> int:
        rc = self.proc.wait()
        self.watchdog.cancel()
        for _ in range(200):  # the JVM outlives the Python driver briefly
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            self.kill()
        self.proc.stdout.close()
        self.log.close()
        return rc


def run_engine(args, run_dir, env, log_path, deadline, kill_when_ready=False):
    """Start worker.py; return (seconds to ready, messages, exit code).
    With `kill_when_ready` the engine is killed as soon as it is ready."""
    p = EngineProcess(args, run_dir, env, log_path, deadline)
    ready_s, msgs = None, []
    try:
        for t, msg in p.lines():
            if ready_s is None and msg.get("ready"):
                ready_s = t
                if kill_when_ready:
                    p.kill()
                    return ready_s, [msg], 0
            msgs.append(msg)
    finally:
        rc = p.close()
    return ready_s, msgs, rc


def fail(msg: str, log_path: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    if os.path.exists(log_path):
        with open(log_path, errors="replace") as f:
            print("".join(f.readlines()[-30:]), file=sys.stderr)
    return 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    wl = WORKLOADS[args.workload]
    load1 = os.getloadavg()[0]
    ticks0 = cpu_ticks()
    t_run = time.perf_counter()

    run_dir = os.path.abspath(
        os.path.join(".perfbench", f"{wl.name}-{args.seed}-{args.trace}-{os.getpid()}")
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, out_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    eventlog_dir = os.path.join(run_dir, "eventlog")
    for d in (out_dir, eventlog_dir, os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    log_path = os.path.join(run_dir, "engine.log")
    try:
        manifest = generate(input_dir, args.seed)
        gen_s = time.perf_counter() - t_run
        env = engine_env(run_dir)
        common = ["--workload", wl.name, "--input", input_dir, "--out", out_dir]

        setups = []
        for _ in range(0 if args.trace else SETUP_PROBES):
            ready_s, _, rc = run_engine(common, run_dir, env, log_path, deadline, kill_when_ready=True)
            if rc != 0 or ready_s is None:
                return fail(f"engine set-up failed (exit {rc})", log_path)
            setups.append(ready_s)

        worker_args = common + [
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--eventlog-dir", eventlog_dir,
        ]
        ready_s, msgs, rc = run_engine(worker_args, run_dir, env, log_path, deadline)
        if rc != 0 or ready_s is None or "passes" not in msgs[-1]:
            return fail(f"worker failed (exit {rc})", log_path)
        setups.append(ready_s)
        res = msgs[-1]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes, checks = res["passes"], res["checks"]
    warm = passes[1:]
    attempted = sum(len(p["steps"]) for p in passes)
    failed = sum(
        1 for p in passes for s in p["steps"] if "error" in s or checks.get(s["name"])
    )
    query_s = [s["build_s"] + s["action_s"] for p in warm for s in p["steps"] if "error" not in s]
    step_s: dict[str, list[float]] = {}
    step_cpu_s: dict[str, list[float]] = {}
    for p in warm:
        for s in p["steps"]:
            if "error" not in s:
                step_s.setdefault(s["name"], []).append(s["build_s"] + s["action_s"])
                step_cpu_s.setdefault(s["name"], []).append(s["cpu_s"])
    details = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "env": {
            "cpus": len(os.sched_getaffinity(0)),
            "engine_cpus": engine_cpus(),
            "load1_at_start": load1,
            "steal_share": ratio(*(b - a for a, b in zip(ticks0, cpu_ticks()))),
            **res["versions"],
        },
        "input": {t: {"rows": m["rows"], "bytes": m["bytes"]} for t, m in manifest.items()},
        "failed_ratio": ratio(failed, attempted),
        "errors": {s["name"]: s["error"] for p in passes for s in p["steps"] if "error" in s},
        "checks": checks,
        "passes": len(passes),
        "pass_s": [round(p["wall_s"], 4) for p in passes],
        "pass_cpu_s": [round(p["cpu_s"], 2) for p in passes],
        # wall-clock figures: on a shared host they move with the host's load
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": percentile(query_s, 50) if query_s else None,
        "query_p90_s": percentile(query_s, 90) if query_s else None,
        "query_samples": len(query_s),
        "setup_samples": [round(s, 4) for s in setups],
        "rss_mb": res["rss"],
        "phase_s": {
            "generate": round(gen_s, 3),
            "verify": round(res["verify_s"], 3),
            "stop": round(res["stop_s"], 3),
            "total": round(time.perf_counter() - t_run, 3),
        },
        "step_median_s": {n: round(statistics.median(v), 4) for n, v in step_s.items()},
        "step_cpu_median_s": {n: round(statistics.median(v), 3) for n, v in step_cpu_s.items()},
    }
    if args.trace:
        layers = res["layers"]
        details.update({k: layers[k] for k in ("jobs_per_pass", "stages_per_pass", "ungrouped_jobs")})
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers["metrics"].items()}
    else:
        values = {
            "setup_s": statistics.median(setups),
            "cold_pass_cpu_s": passes[0]["cpu_s"],
            "warm_pass_cpu_s": statistics.median(p["cpu_s"] for p in warm),
            "peak_rss_mb": res["rss"]["python_mb"] + res["rss"]["jvm_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    print("# " + json.dumps(details))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
