#!/usr/bin/env python3
"""End-to-end benchmark of lab_etl_spark.

One closed-loop client in one process drives a ``local[nproc / 2]`` session
through the package's public functions.  A run starts the session several
times, each time in a new JVM, runs one untimed pass that also checks every
op's output, then runs the timed passes over the op mix: as many whole
passes as fill ``--seconds`` at the mix's nominal pass time (NOMINAL_PASS_S).
The host is shared, and other tenants change its speed by up to 2x for
minutes at a time.  So every timed section (a session start, a warm-up op,
a timed op) is bracketed by host-speed probes (a fixed pure-Python loop
that does not touch the program), its wall time is scaled to the reference
speed REF_PROBE_S, and each timed op is reported at its best (fastest)
scaled run, the estimator ``bench.py`` uses.  The raw wall times are kept
in the record.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The full record
(config fingerprint, per-op samples, spans, per-op Spark counters) is written
to ``--out`` or under ``.bench_build/perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

from tracing import (
    COUNTERS,
    PlanListener,
    Tracer,
    install_call_spans,
    read_event_log,
    self_times,
)

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
#: cold session starts per run, each in a new JVM; setup_s takes their median
SESSION_STARTS = 2
#: one timed pass of each mix, in seconds, on a 4-core 15 GB host after the
#: untimed pass (2 task threads).  ``--seconds`` buys ceil(seconds / this)
#: whole passes (two at least): a fixed count, so every run, and both sides
#: of an A/B, time each op the same number of times at the same point of
#: the JVM's warm-up.
NOMINAL_PASS_S = {"iterative": 6.5, "lab_ingest": 5.0}
MIN_PASSES = 2
#: scan-only probes per traced lab_ingest run (sources.scan_s)
SCAN_PROBES = 2
#: host_probe() repetitions at each op boundary (their median is taken)
HOST_PROBES = 3
#: host_probe() seconds on the reference host (4 cores, 15 GB, unloaded):
#: the end-to-end metrics are wall seconds scaled to that speed
REF_PROBE_S = 0.020

E2E_UNITS = {"setup_s": "s", "pass_ref_s": "s", "op_ref_p50_s": "s"}
LAYER_UNITS = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "spark.action_s": "s",
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.deserialize_ms": "ms",
    "spark.parallelism": "ratio",
    "spark.input_bytes": "bytes",
    "spark.input_amplification": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_records": "count",
    "spark.fetch_wait_ms": "ms",
    "spark.spill_bytes": "bytes",
    "python.bytes_sent": "bytes",
    "python.rows_received": "rows",
    "sources.scan_s": "s",
    "sources.sink_s": "s",
    "sources.files_out": "count",
    "sources.bytes_out": "bytes",
    "sources.load_s": "s",
    "meta.hash_s": "s",
    "meta.unit_gate_s": "s",
    "ingest_rows_s": "rows/s",
    "etl_file_p50_s": "s",
    "lake_read_s": "s",
    "lake_bytes_per_input_byte": "ratio",
}
#: span name -> per-pass time metric
SPAN_METRICS = {
    "queries.build": "queries.build_s",
    "spark.action": "spark.action_s",
    "sources.load": "sources.load_s",
    "meta.hash": "meta.hash_s",
    "meta.unit_gate": "meta.unit_gate_s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def host_config() -> dict:
    usable = len(os.sched_getaffinity(0))
    # half the usable cores run tasks; the rest are left to the JVM's JIT
    # compiler and GC threads and to the Python client, which otherwise
    # preempt task threads and make stragglers of them
    cpus = max(1, usable // 2)
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # an eighth of the host in whole GiB, 1-4 GiB (1 GiB on a 16 GB host):
    # the sf0.01 tables and the generated instrument runs need far less,
    # and other processes share the host
    heap_gb = max(1, min(4, mem_kb // (8 << 20)))
    return {"usable_cpus": usable, "cpus": cpus, "mem_total_kb": mem_kb, "heap": f"{heap_gb}g"}


def configure_env(host: dict, work: str, trace: bool) -> None:
    """Size the session for this host and keep every file Spark, the JVM
    and Python workers write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    env["SPARK_GRAFT_DRIVER_MEM"] = host["heap"]
    # Python workers import lab_etl_spark by module path
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"])
    )
    extra = [s for s in env.get("SPARK_GRAFT_EXTRA_CONF", "").split(";") if s.strip()]
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        extra += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{logs}",
            "spark.eventLog.compress=false",
        ]
    env["SPARK_GRAFT_EXTRA_CONF"] = ";".join(extra)


def fingerprint(host: dict, args, input_bytes: int) -> dict:
    import pyarrow
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "lab_etl_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                src.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    src.update(fh.read())
    git = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"],
        capture_output=True,
        text=True,
        env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        check=False,
    )
    return {
        **host,
        "spark_graft_extra_conf": os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "pyarrow": pyarrow.__version__,
        "git_sha": git.stdout.strip() if git.returncode == 0 else None,
        "source_sha256": src.hexdigest(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input_bytes": input_bytes,
    }


def passes_for(workload: str, seconds: float) -> int:
    return max(MIN_PASSES, math.ceil(seconds / NOMINAL_PASS_S[workload]))


def host_probe() -> float:
    """Seconds a fixed pure-Python loop takes (median of HOST_PROBES): the
    host's speed right now, independent of the program."""
    times = []
    for _ in range(HOST_PROBES):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def at_ref(seconds: float, before: float, after: float) -> float:
    """``seconds`` of wall time scaled to the reference host speed, given
    the host probes just before and just after them."""
    return seconds * 2 * REF_PROBE_S / (before + after)


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it (the JVM and its Python
    workers)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children[pid])
    return out


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants."""
    total_kb = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def stop_jvm() -> None:
    """Stop the session, end the gateway JVM and wait until it and the
    Python workers it started have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    workers = [p for p in descendants(proc.pid) if p != proc.pid]
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in workers:  # workers exit on EOF from the JVM
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


class Runner:
    def __init__(self, args, tracer, cores: int):
        self.args = args
        self.wl = None
        self.tr = tracer
        self.cores = cores
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.timed_groups: list[str] = []  # job group of every timed op
        self.plans = None  # PlanListener of a traced run
        self.plan_ms: dict[str, float] = {}  # job group -> planning ms

    def start_sessions(self) -> tuple[list[float], list[float]]:
        """Start the session SESSION_STARTS times, each in a fresh JVM
        (the gateway of the previous start is shut down first); returns
        each start's seconds, in wall time and at the reference speed."""
        from lab_etl_spark.session import get_spark

        starts, starts_ref = [], []
        for _ in range(SESSION_STARTS):
            if self.spark is not None:
                stop_jvm()
            before = host_probe()
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.args.workload}")
            starts.append(time.perf_counter() - t0)
            starts_ref.append(at_ref(starts[-1], before, host_probe()))
        if self.tr.enabled:
            self.plans = PlanListener(self.spark)
        return starts, starts_ref

    def attempt(self, group: str, fn):
        """Run one op under its job group; a raised error is a failed op."""
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(group, group)
        try:
            with self.tr.span("op", op=group):
                return True, fn()
        except Exception:  # an op failure is a measurement, not an abort
            self.failures.append(f"{group}: {traceback.format_exc(limit=4)}")
            print(self.failures[-1], file=sys.stderr)
            return False, None
        finally:
            if self.plans is not None:
                self.plan_ms[group] = self.plans.take()

    def warmup(self) -> tuple[dict[str, float], dict[str, float]]:
        """One untimed pass that checks each op's output; returns the time
        each op spent in program calls, in wall time and at the reference
        speed."""
        spent, spent_ref = {}, {}
        with self.tr.span("warmup"):
            before = host_probe()
            for op in self.wl.ops:
                self.wl.before(op)
                _, dt = self.attempt(f"w|{op}", lambda op=op: self.wl.check(op))
                after = host_probe()
                spent[op] = dt or 0.0
                spent_ref[op] = at_ref(spent[op], before, after)
                before = after
        return spent, spent_ref

    def timed(self) -> tuple[dict[str, list[float]], dict[str, list[float]]]:
        """The timed passes over the op mix; returns each op's latencies in
        wall time and at the reference speed, failed runs left out."""
        samples: dict[str, list[float]] = {op: [] for op in self.wl.ops}
        samples_ref: dict[str, list[float]] = {op: [] for op in self.wl.ops}
        before = host_probe()
        for n in range(passes_for(self.args.workload, self.args.seconds)):
            with self.tr.span("pass"):
                for op in self.wl.ops:
                    self.wl.before(op)

                    def timed_op(op=op):
                        t0 = time.perf_counter()
                        result = self.wl.run(op)
                        dt = time.perf_counter() - t0
                        self.wl.verify(op, result)
                        return dt

                    group = f"t|{op}|{n}"
                    self.timed_groups.append(group)
                    ok, dt = self.attempt(group, timed_op)
                    after = host_probe()
                    if ok:
                        samples[op].append(dt)
                        samples_ref[op].append(at_ref(dt, before, after))
                    before = after
        return samples, samples_ref

    def scan_probes(self) -> list[float]:
        times = []
        for i in range(SCAN_PROBES):

            def probe():
                t0 = time.perf_counter()
                self.wl.scan_probe()
                return time.perf_counter() - t0

            ok, dt = self.attempt(f"p|scan|{i}", probe)
            if ok:
                times.append(dt)
        return times


def e2e_metrics(starts, warm_s, samples) -> dict[str, float]:
    """The end-to-end metrics from session starts, the warm-up pass's
    program time and the timed latencies of each op."""
    best = [min(ts) for ts in samples.values() if ts]
    return {
        "setup_s": _median(starts) + warm_s,
        # one pass with each op at its best timed latency
        "pass_ref_s": sum(best),
        "op_ref_p50_s": _median(best),
    }


def ingest_metrics(wl, samples) -> dict[str, float]:
    """lab_ingest's user-facing figures (empty for the query mixes)."""
    if "bulk" not in samples:
        return {}
    etl = [t for op, ts in samples.items() if op.startswith("etl:") for t in ts]
    return {
        "ingest_rows_s": wl.corpus.long_rows / _median(samples["bulk"]),
        "etl_file_p50_s": _median(etl),
        "lake_read_s": _median(samples["read"]),
        "lake_bytes_per_input_byte": wl.lake_bytes / wl.input_bytes(),
    }


def per_pass(groups: list[str], value) -> float:
    """One pass's worth of a per-op quantity: its mean over each op's timed
    runs (job groups ``t|<op>|<n>``), summed over the ops of the mix."""
    by_op: dict[str, list[float]] = defaultdict(list)
    for g in groups:
        by_op[g.split("|")[1]].append(value(g))
    return sum(statistics.fmean(v) for v in by_op.values())


def layer_metrics(runner, wl, starts, warm_s, samples, probes, counters):
    """Per-layer metrics, each per pass (one run of every op) unless it is a
    median over ops."""
    groups = runner.timed_groups
    span_s: dict[tuple[str, str], float] = defaultdict(float)
    for s in runner.tr.spans:
        if (s["op"] or "").startswith("t|"):
            span_s[s["op"], s["name"]] += s["end"] - s["start"]
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m["session.start_s"] = _median(starts)
    m["session.warmup_s"] = warm_s
    for name, metric in SPAN_METRICS.items():
        m[metric] = per_pass(groups, lambda g: span_s[g, name])
    m["spark.plan_ms"] = per_pass(groups, lambda g: runner.plan_ms[g])
    empty = dict.fromkeys(COUNTERS, 0)
    for k in COUNTERS:
        m[k] = per_pass(groups, lambda g: counters.get(g, empty)[k])
    wall = sum(statistics.fmean(ts) for ts in samples.values() if ts)
    m["spark.parallelism"] = m["spark.task_run_ms"] / (1000 * wall * runner.cores)
    # on-disk bytes of the inputs one pass reads (the lake counts as read)
    read = per_pass(groups, lambda g: wl.input_bytes(g.split("|")[1]))
    m["spark.input_amplification"] = m["spark.input_bytes"] / read
    if "bulk" in samples:
        bulk = [g for g in groups if g.startswith("t|bulk|")]
        m["sources.scan_s"] = _median(probes)
        m["sources.sink_s"] = (
            statistics.fmean(span_s[g, "sources.sink"] for g in bulk) - m["sources.scan_s"]
        )
        m["sources.files_out"] = wl.lake_files
        m["sources.bytes_out"] = wl.lake_bytes
    m.update(ingest_metrics(wl, samples))
    return m


def self_time_by_layer(runner) -> dict[str, float]:
    """Self time of each span name, per pass."""
    own: dict[tuple[str, str], float] = defaultdict(float)
    for s, t in zip(runner.tr.spans, self_times(runner.tr.spans)):
        if (s["op"] or "").startswith("t|"):
            own[s["op"], s["name"]] += t
    names = {name for _, name in own}
    return {n: per_pass(runner.timed_groups, lambda g: own[g, n]) for n in sorted(names)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="path of the full JSON record")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lab_etl_spark", "session.py")) or not (
        os.path.isfile(os.path.join(ROOT, "tests", "compare.py"))
    ):
        print(f"perfbench: no lab_etl_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)  # lab_etl_spark and tests.compare
    import workloads

    build = os.path.join(ROOT, ".bench_build", "perfbench")
    # fixed-width name: file paths reach the Python workers, and their
    # length must not change python.bytes_sent between runs
    work = os.path.join(build, "runs", f"{args.workload}-{os.getpid():08d}")
    shutil.rmtree(work, ignore_errors=True)
    host = host_config()
    configure_env(host, work, bool(args.trace))
    tracer = Tracer(bool(args.trace))
    runner = None
    try:
        runner = Runner(args, tracer, host["cpus"])
        wl = workloads.make(
            args.workload, ROOT, work, args.seed, lambda: runner.spark, tracer
        )
        runner.wl = wl
        wl.prepare()
        if tracer.enabled:
            install_call_spans(tracer)
        fp = fingerprint(host, args, wl.input_bytes())
        print("perfbench fingerprint " + json.dumps(fp), file=sys.stderr)

        with tracer.span("workload"):
            starts, starts_ref = runner.start_sessions()
            app_id = runner.spark.sparkContext.applicationId
            warm_ops, warm_ref = runner.warmup()
            warm_s = sum(warm_ops.values())
            samples, samples_ref = runner.timed()
            probes = runner.scan_probes() if tracer.enabled and hasattr(wl, "scan_probe") else []
        peak_rss = tree_peak_rss_mb(os.getpid())
        stop_jvm()
        runner.spark = None

        e2e = e2e_metrics(starts_ref, sum(warm_ref.values()), samples_ref)
        record = {
            "fingerprint": fp,
            "e2e": e2e,
            "ingest": ingest_metrics(wl, samples),
            "starts_s": starts,
            "starts_ref_s": starts_ref,
            "warmup_s": warm_s,
            "warmup_ops_s": warm_ops,
            "op_samples": sum(len(ts) for ts in samples.values()),
            "peak_rss_mb": peak_rss,
            "samples_s": samples,
            "samples_ref_s": samples_ref,
            # the end-to-end figures in unscaled wall seconds
            "e2e_wall": e2e_metrics(starts, warm_s, samples),
            "failures": runner.failures,
        }
        if tracer.enabled:
            counters = read_event_log(os.path.join(work, "eventlog"), app_id)
            layers = layer_metrics(
                runner, wl, starts, warm_s, samples, probes, counters
            )
            layers["peak_rss_mb"] = peak_rss
            record.update(
                layers=layers,
                self_s=self_time_by_layer(runner),
                counters=counters,
                spans=tracer.spans,
            )
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

        failed = len(runner.failures)
        out = args.out or os.path.join(
            build,
            "results",
            f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json",
        )
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w") as f:
            json.dump(record, f, indent=1, default=str)
        print(f"perfbench record {out}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": runner.attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if runner is not None and runner.spark is not None:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
