"""One workload in one fresh process: start the session, set up, warm
up, time the window, check every output, and write the raw result as JSON.

``run.py`` starts this process; it is not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback


# an untraced run times at least this many ops, so that its median does
# not rest on a handful of samples when the host runs slow
MIN_TIMED = 8


def _enough(timed: list, trace: int) -> bool:
    """An untraced window needs MIN_TIMED ops; a traced one needs both
    traced and untraced ops to compare."""
    if trace:
        return len({o.traced for o in timed}) == 2
    return len(timed) >= MIN_TIMED


def session_cpu_ms() -> float:
    """CPU time so far of every process in this process's session: itself,
    its JVM and the JVM's Python workers, with their reaped children.
    Unlike wall time it leaves out the time the host ran other tenants."""
    sid, total = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended meanwhile
            continue
        # fields after "(comm)": state ppid pgrp session ... utime stime
        # cutime cstime at 11-14
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            total += sum(int(x) for x in fields[11:15])
    return total * 1000.0 / os.sysconf("SC_CLK_TCK")


def run_window(wl, tracer, seconds: float, trace: int) -> tuple:
    """Warm up for ``wl.warmup_ops`` ops, then time ops for ``seconds``
    seconds (and at least until ``_enough``).  The window also ends, once
    it is long enough, when the workload has no more inputs to feed: a
    faster engine then times fewer seconds, not failed ops.  Returns the
    warm-up ops, the timed ops, and the mismatched and raised op counts."""
    warm, timed, mismatched, raised, errors = [], [], 0, 0, 0
    window_start, steps = None, 0
    while True:
        if wl.exhausted():
            if _enough(timed, trace):
                break
            raise RuntimeError(f"inputs ran out after {len(warm)} warm-up "
                               f"and {len(timed)} timed ops")
        # the traced run records every other step and leaves the rest
        # untraced, so one process measures the tracing overhead
        tracer.active = bool(trace) and steps % 2 == 0
        steps += 1
        step_start, cpu0 = time.monotonic(), session_cpu_ms()
        try:
            ops = wl.step()
            errors = 0
        except Exception:  # an op that raises is counted, the run goes on
            traceback.print_exc()
            raised += wl.ops_per_step
            errors += 1
            if errors >= 3:
                raise
            continue
        mismatched += sum(not o.ok for o in ops)
        cpu = (session_cpu_ms() - cpu0) / len(ops)
        for o in ops:
            o.traced, o.cpu_ms = tracer.active, cpu
            (warm if len(warm) < wl.warmup_ops else timed).append(o)
        if timed and window_start is None:
            window_start = step_start
        print(f"ops {len(warm)}+{len(timed)} last {ops[-1].ms:.1f} ms",
              file=sys.stderr, flush=True)
        if (window_start is not None
                and time.monotonic() - window_start >= seconds
                and _enough(timed, trace)):
            break
    tracer.active = False
    return warm, timed, mismatched, raised


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2 ** 20


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--t-spawn", type=float, required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--spans", default=None)
    p.add_argument("--eventlog", default=None)
    p.add_argument("--gclog", default=None)
    a = p.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import tracing as tr
    from workloads import WORKLOADS

    from hbase_indexer_spark.session import get_spark

    with open(os.path.join(a.inputs, "manifest.json")) as f:
        manifest = json.load(f)
    tracer = tr.Tracer() if a.trace else tr.NullTracer()
    spark = get_spark(f"perfbench-{a.workload}")
    tracer.install(spark)
    if a.trace:
        tracer.current_op = "setup"
    wl = WORKLOADS[a.workload](spark, a.inputs, manifest, a.work, tracer)
    if a.trace:
        tracer.current_op = None
    setup_s = time.monotonic() - a.t_spawn

    golive = getattr(wl, "golive", None)
    warm, timed, mismatched, raised = run_window(wl, tracer, a.seconds, a.trace)
    if golive is not None:
        mismatched += not golive.ok

    rss = _vmhwm_mb("self") + _vmhwm_mb(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    layers = {}
    if a.trace:
        if hasattr(wl, "layer_counts"):
            layers.update(wl.layer_counts())
        layers["spark.jvm_live_heap_mb"] = _live_heap_mb(spark)
        _stop(spark)
        log = tr.parse_eventlog(os.path.join(a.eventlog, os.listdir(a.eventlog)[0]))
        gc = tr.parse_gc_log(a.gclog)
        on = [o for o in timed if o.traced]
        off = [o for o in timed if not o.traced]
        layers.update(tr.layer_metrics(tracer, on, log, gc))
        if golive is not None:
            g = tr.layer_metrics(tracer, [golive], log, gc)
            layers.update({f"golive.{k}": g[k] for k, _ in tr.GOLIVE})
        p50_on = statistics.median(o.ms for o in on)
        p50_off = statistics.median(o.ms for o in off)
        layers["trace.overhead_ms"] = p50_on - p50_off
        layers["trace.overhead_pct"] = 100.0 * (p50_on - p50_off) / p50_off
        n = tracer.write_spans(a.spans)
        print(f"{n} spans written to {a.spans}", file=sys.stderr)
    else:
        _stop(spark)
    attempted = len(warm) + len(timed) + raised + (golive is not None)
    result = {
        "setup_s": setup_s,
        "latencies_ms": [o.ms for o in timed if not o.traced],
        "work": [o.work for o in timed if not o.traced],
        "cpu_ms": [o.cpu_ms for o in timed if not o.traced],
        "warmup_ms": [o.ms for o in warm],
        "attempted": attempted,
        "failed": mismatched + raised,
        "peak_rss_mb": rss,
        "layers": layers,
    }
    with open(a.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
