"""One benchmark run inside a fresh engine process (started by run.py).

Protocol: every line this process means for run.py goes to stdout as
``PERFBENCH <json>``; anything else (Spark, py4j) is ignored. The first
such line is sent as soon as the SparkSession is ready, so run.py can time
the set-up from process start (run.py kills the extra engines it starts
only to time set-up right then).

A run is: a cold pass, then warm passes (at least the workload's
``min_warm_passes``; another only while it is expected to end within
``--seconds`` of the cold pass's start, going by the last pass's length), a
reading of peak memory, then an untimed check of the last pass: every
step's full result, collected from the frame that pass built (or read back
from the datamart it wrote), is compared with its DuckDB oracle. Each pass
records its wall time and the CPU time every process of the session spent
on it.

With ``--trace 1`` every call into the engine is tagged with a Spark job
group ``<pass>|<step>|<build|action>``, the event log is on, and after the
session stops the log is folded into per-layer metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

from workloads import PRETRAIN, WORKLOADS  # noqa: E402

#: Steps that run a registered twin instead of the registry entry.
TWINS = ("user_value_interpolate",)
#: The driver heap's initial size. The heap starts this large and grows
#: towards -Xmx (run.py's DRIVER_MEM) only when the driver needs more, so
#: the JVM's resident size has a steady floor but still shows heap growth.
HEAP_FLOOR = "1g"
#: The driver JVM compiles with C1 only. With the default tiered JIT, C2's
#: background compilation spends 5-8 CPU-seconds per pass through the first
#: five or so warm passes, at a pace set by how busy the host is, so a
#: pass's cost measured the JIT's progress more than the engine's work.
JIT = "-XX:TieredStopAtLevel=1"


def emit(obj: dict) -> None:
    print("PERFBENCH " + json.dumps(obj), flush=True)


def start_engine(app: str, conf: dict[str, str]):
    """The set-up a user of the engine pays: import it, then get_spark."""
    import hadoop_data_lake_spark.pipelines.pretrain_data  # noqa: F401
    import hadoop_data_lake_spark.queries.sweep_variants  # noqa: F401
    from hadoop_data_lake_spark.core.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    return spark, time.perf_counter() - t


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def heap_peak_used_mb(spark) -> float:
    """Sum of the peak use of the driver JVM's heap pools."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]
    return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this session (the JVM,
    this driver and the Python workers, exited ones included through their
    parent's cutime/cstime). The kernel leaves hypervisor steal out."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_stats(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


class Step:
    """One engine entry point: `build()` returns the result frame, `sink(df)`
    produces the full result."""

    def __init__(self, spark, name: str, input_dir: str, out_path: str | None):
        from hadoop_data_lake_spark.queries.registry import REGISTRY
        from hadoop_data_lake_spark.queries.sweep_variants import SCALED_SWEEP_VARIANTS

        self.spark, self.name, self.input_dir, self.out_path = spark, name, input_dir, out_path
        self.spec = None
        if name != PRETRAIN:
            self.spec = SCALED_SWEEP_VARIANTS[name] if name in TWINS else REGISTRY[name]

    @property
    def layer(self) -> str:
        return "streaming" if self.name.startswith("stream_") else "queries"

    def build(self):
        if self.spec is None:
            from hadoop_data_lake_spark.pipelines.pretrain_data import run_pretrain_pipeline

            return run_pretrain_pipeline(self.spark, self.input_dir)[0]
        return self.spec.fn(self.spark, self.input_dir)

    def sink(self, df) -> None:
        if self.out_path is None:
            df.write.format("noop").mode("overwrite").save()
            return
        from hadoop_data_lake_spark.core.io import write_overwrite

        write_overwrite(df, self.out_path)

    def written(self) -> dict:
        if self.out_path is None:
            return {}
        nbytes, nfiles = dir_stats(self.out_path)
        return {"bytes_written": nbytes, "files_written": nfiles}

    def result(self, df):
        """The full result as pandas, for verification (untimed): the frame
        the last pass built, or the datamart it wrote, read back."""
        if self.out_path is not None:
            return self.spark.read.parquet(self.out_path).toPandas()
        return df.toPandas()


def run_pass(spark, steps: list[Step], index: int, trace: bool, frames: dict) -> dict:
    """Run every step once; record times; leave each result frame in `frames`."""
    sc = spark.sparkContext
    rec = {"t0": time.time(), "steps": []}
    t_pass = time.perf_counter()
    c_pass = session_cpu_s()
    for step in steps:
        s = {"name": step.name, "layer": step.layer}
        try:
            if trace:
                sc.setJobGroup(f"{index}|{step.name}|build", step.name)
            c = session_cpu_s()
            t = time.perf_counter()
            df = step.build()
            s["build_s"] = time.perf_counter() - t
            frames[step.name] = df
            if trace:
                sc.setJobGroup(f"{index}|{step.name}|action", step.name)
            t = time.perf_counter()
            step.sink(df)
            s["action_s"] = time.perf_counter() - t
            s["cpu_s"] = session_cpu_s() - c
            s.update(step.written())
        except Exception as e:  # counted as a failed operation
            s["error"] = repr(e)[:500]
            frames.pop(step.name, None)
        rec["steps"].append(s)
    rec["wall_s"] = time.perf_counter() - t_pass
    rec["cpu_s"] = session_cpu_s() - c_pass
    rec["t1"] = time.time()
    return rec


def verify(spark, steps, input_dir: str, frames: dict, trace: bool) -> dict:
    """{step: None if the last pass's result matches, else the reason}."""
    import duckdb

    from hadoop_data_lake_spark.core.io import TABLES
    from tools.check_oracle import canonical_multiset

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    out = {}
    for step in steps:
        if trace:
            spark.sparkContext.setJobGroup(f"verify|{step.name}", step.name)
        try:
            if step.name not in frames:
                out[step.name] = "no result in the last pass"
                continue
            got = step.result(frames[step.name])
            want = con.sql(step.spec.oracle).df()
            if len(got) != len(want):
                out[step.name] = f"rowcount {len(got)} vs oracle {len(want)}"
            elif sorted(got.columns) != sorted(want.columns):
                out[step.name] = f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
            elif canonical_multiset(got) != canonical_multiset(want):
                out[step.name] = "values differ from oracle"
            else:
                out[step.name] = None
        except Exception as e:
            out[step.name] = repr(e)[:500]
    con.close()
    return out


def layer_metrics(eventlog_dir: str, passes: list[dict], start_s: float) -> dict:
    """Median over warm passes of each per-layer metric."""
    import eventlog
    from stats import ratio, union_length

    (path,) = glob.glob(os.path.join(eventlog_dir, "*"))
    counters, spans = eventlog.parse_file(path)
    ungrouped = spans.get("", [])
    rows = []
    for i, p in enumerate(passes[1:], start=1):
        prefix = f"{i}|"
        groups = [g for g in counters if g.startswith(prefix)]
        tot = {k: sum(counters[g][k] for g in groups) for k in eventlog.COUNTERS}

        def jobs_of(layer: str, part: str) -> int:
            names = {s["name"] for s in p["steps"] if s["layer"] == layer}
            return sum(counters.get(f"{i}|{n}|{part}", {}).get("jobs", 0) for n in names)

        def secs(layer: str, key: str) -> float:
            return sum(s.get(key, 0.0) for s in p["steps"] if s["layer"] == layer)

        busy = union_length(
            [sp for g in groups for sp in spans.get(g, [])] + ungrouped, p["t0"], p["t1"]
        )
        written = sum(s.get("bytes_written", 0) for s in p["steps"])
        rows.append({
            "core.session.start_s": start_s,
            "queries.build_s": secs("queries", "build_s"),
            "queries.build_jobs": jobs_of("queries", "build"),
            "queries.action_s": secs("queries", "action_s") + secs("streaming", "action_s"),
            "streaming.replay_s": secs("streaming", "build_s"),
            "streaming.replay_jobs": jobs_of("streaming", "build"),
            "core.io.write_s": sum(s.get("action_s", 0.0) for s in p["steps"] if "bytes_written" in s),
            "core.io.bytes_written": written,
            "core.io.files_written": sum(s.get("files_written", 0) for s in p["steps"]),
            "core.io.input_bytes": tot["input_bytes"],
            "core.io.stored_bytes_ratio": ratio(written, tot["input_bytes"]),
            "spark.jobs": tot["jobs"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.task_failures": tot["task_failures"],
            "spark.exec_run_s": tot["exec_run_s"],
            "spark.exec_cpu_s": tot["exec_cpu_s"],
            "spark.gc_s": tot["gc_s"],
            "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
            "spark.spill_bytes": tot["spill_bytes"],
            "spark.shuffle_bytes_per_input_byte": ratio(tot["shuffle_write_bytes"], tot["input_bytes"]),
            "spark.result_bytes": tot["result_bytes"],
            "spark.driver_only_s": max(0.0, (p["t1"] - p["t0"]) - busy),
            "trace.warm_pass_s": p["wall_s"],
            "trace.warm_pass_cpu_s": p["cpu_s"],
        })
    return {
        "metrics": {k: statistics.median(r[k] for r in rows) for k in rows[0]},
        "jobs_per_pass": [r["spark.jobs"] for r in rows],
        "stages_per_pass": [r["spark.stages"] for r in rows],
        "ungrouped_jobs": counters.get("", {}).get("jobs", 0),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--eventlog-dir")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)

    conf = {"spark.driver.extraJavaOptions": f"-Xms{HEAP_FLOOR} {JIT}"}
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(args.eventlog_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark, start_s = start_engine(f"perfbench-{wl.name}", conf)
    emit({"ready": True, "start_s": start_s})

    steps = [
        Step(spark, n, args.input, os.path.join(args.out, n) if n in wl.datamarts else None)
        for n in wl.steps
    ]
    frames: dict = {}
    t_start = time.perf_counter()
    passes = [run_pass(spark, steps, 0, trace, frames)]
    while True:  # the floor of warm passes, then more while the next fits in --seconds
        passes.append(run_pass(spark, steps, len(passes), trace, frames))
        elapsed = time.perf_counter() - t_start
        if len(passes) > wl.min_warm_passes and elapsed + passes[-1]["wall_s"] > args.seconds:
            break
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_split = {
        "python_mb": vm_hwm_mb("self"),
        "jvm_mb": vm_hwm_mb(jvm_pid),
        "jvm_heap_peak_used_mb": heap_peak_used_mb(spark),
    }

    t = time.perf_counter()
    checks = verify(spark, steps, args.input, frames, trace)
    verify_s = time.perf_counter() - t
    versions = {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    t = time.perf_counter()
    spark.stop()
    stop_s = time.perf_counter() - t
    result = {
        "verify_s": verify_s,
        "stop_s": stop_s,
        "passes": passes,
        "rss": rss_split,
        "checks": checks,
        "versions": versions,
        "start_s": start_s,
    }
    if trace:
        result["layers"] = layer_metrics(args.eventlog_dir, passes, start_s)
    emit(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
