"""Benchmark launcher: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload cdc_stream --seed 3 --seconds 10 --trace 0

Run from the root of a checkout.  It generates (or reuses) the seeded
inputs, pins the run environment, runs the workload in a child process,
and prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The lines
before it give the warm-up drift and the end-to-end metrics that are
reported but not gated: ``latency_p50_ms``, ``latency_tail_ms`` (with its
percentile and sample count) and ``throughput_per_s``.  Wall-clock
latency follows the CPU time other tenants take from a shared host, so
the gated cost of an op is ``cpu_ms_per_op``, the CPU time the workload's
processes spent on it.

A traced run records every other step and leaves the rest untraced; the
difference of the two halves' median latencies is the tracing overhead.
Its latency figures come from the untraced half.  Spans go to
``.bench_out/<workload>-s<seed>/spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("cdc_stream", "near_dup_curation")
HEAP = "3g"
# the whole run, generation included, must end well inside 180 s
RUN_BUDGET_S = 170.0
# the gated end-to-end metrics (BENCHMARK.json "end_to_end")
END_TO_END = (("setup_s", "s"), ("cpu_ms_per_op", "ms"),
              ("peak_rss_mb", "MB"))


def _env(work: str, trace: bool) -> dict:
    """The pinned environment of a workload process."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # A fixed-size heap (-Xms = -Xmx): with the JVM's own sizing, peak RSS
    # follows how far the collector chose to grow the heap, and two runs of
    # one seed differed by a third.  With it, peak_rss_mb moves with Python
    # and off-heap memory, and heap use within the 3g does not show (the
    # traced run's spark.jvm_live_heap_mb does); a run needing more fails.
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local}
    if trace:
        java += f" -Xlog:gc:file={os.path.join(work, 'gc.log')}:tm"
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = [x for k, v in conf.items() for x in ("--conf", f"{k}={v}")]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYSPARK_SUBMIT_ARGS": shlex.join(
            args + ["--driver-java-options", java, "pyspark-shell"]),
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def _end_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group and wait until the
    group is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    for _ in range(300):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise RuntimeError(f"process group {proc.pid} did not end")


def _child(workload: str, seed: int, inputs: str, seconds: float,
           trace: bool, deadline: float) -> dict:
    """Run the workload in a fresh process with its own work directory,
    removed afterwards; return the child's result."""
    work = os.path.join(ROOT, ".bench_work",
                        f"{workload}-{os.getpid()}-{time.monotonic_ns()}")
    os.makedirs(work)
    try:
        env = _env(work, trace)
        result = os.path.join(work, "result.json")
        cmd = [sys.executable, os.path.join(HERE, "child.py"),
               "--workload", workload, "--inputs", inputs,
               "--work", work, "--seconds", str(seconds),
               "--trace", str(int(trace)), "--result", result]
        if trace:
            cmd += ["--spans", os.path.join(ROOT, ".bench_out",
                                            f"{workload}-s{seed}", "spans.jsonl"),
                    "--eventlog", os.path.join(work, "eventlog"),
                    "--gclog", os.path.join(work, "gc.log")]
        log_path = os.path.join(work, "child.log")
        with open(log_path, "w") as log:
            t_spawn = time.monotonic()
            # its own process group: the JVM it launches is killed with it
            proc = subprocess.Popen(cmd + ["--t-spawn", repr(t_spawn)],
                                    cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                _end_group(proc)
        if code != 0 or not os.path.exists(result):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise RuntimeError(f"{workload} process ended with {code}")
        with open(result) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description="spark-indexer benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "hbase_indexer_spark", "__init__.py")):
        print(f"no hbase_indexer_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    sys.path.insert(0, ROOT)
    inputs, _ = gen.inputs(os.path.join(ROOT, ".bench_cache"), a.workload, a.seed)

    run = _child(a.workload, a.seed, inputs, a.seconds, bool(a.trace), deadline)
    s = stats.summarize(run["latencies_ms"], run["work"], run["cpu_ms"])
    print(f"drift: second-half median / first-half median - 1 = "
          f"{s['drift']:+.4f} over {s['samples']} timed ops "
          f"after {len(run['warmup_ms'])} warm-up ops")
    print(f"also: latency_p50_ms = {s['latency_p50_ms']:.1f} ms; "
          f"latency_tail_ms = {s['latency_tail_ms']:.1f} ms, the "
          f"p{s['tail_percentile']:.1f} of {s['samples']} timed ops "
          f"({s['tail_beyond']} beyond it); throughput_per_s = "
          f"{s['throughput_per_s']:.1f} 1/s")
    attempted, failed = run["attempted"], run["failed"]
    if a.trace:
        layers = dict.fromkeys((n for n, _, _ in tracing.PER_LAYER), 0.0)
        layers.update(run["layers"])
        cands = layers["pipeline.dedup.candidate_pairs"]
        layers["pipeline.dedup.verify_yield"] = (
            layers["pipeline.dedup.verified_pairs"] / cands if cands else 0.0)
        metrics = {name: {"value": layers[name], "unit": unit}
                   for name, unit, _ in tracing.PER_LAYER}
    else:
        values = dict(s, setup_s=run["setup_s"], peak_rss_mb=run["peak_rss_mb"])
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
