"""Benchmark entry point: one workload, one fresh JVM, one JSON result line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``perfbench/_work/cache`` (reused for a seed already generated); every
operation writes into its own directory under ``perfbench/_work/runs``,
which is removed at exit. Spark's local dir and all temporary files stay
under ``perfbench/_work`` too.

Standard output: ``# ``-prefixed report lines (every metric with its unit
and sample count, the host spec, input sizes), then, as the last line, the
result object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ledger of a traced window. Exit code 0 only when every output
check passed; 2 when the program under test cannot be imported.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402

import workloads  # noqa: E402
from spans import Tracer, read_status_store, self_times  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

E2E = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "peak_nonheap_mb": "MB",
}
LAYER_METRICS = [
    "session.start_s", "session.warmup_s",
    "kernels.python_s", "kernels.arrow_bytes_in", "kernels.arrow_bytes_out",
    "kernels.python_worker_peak_rss_mb",
    "operators.triples.python_s", "operators.triples.rows_out",
    "operators.coref.python_s", "operators.coref.shuffle_bytes",
    "plans.lineage.write_s", "plans.lineage.commit_s", "plans.lineage.bytes_written",
    "plans.merge.s", "plans.merge.buckets_rewritten", "plans.merge.write_amp_rows",
    "plans.incremental.refresh_s", "streaming.kg_stream.extract_s",
    "streaming.trigger_overhead_s",
    "plans.lineage.log_bytes", "plans.lineage.log_files",
    "plans.queries.build_s", "plans.queries.exec_s",
    "operators.dedup.lsh_pair_yield",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.slot_busy_ratio",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.peak_exec_mem_bytes", "spark.failed_tasks",
    "trace.overhead_s", "trace.attributed_ratio", "trace.unattributed_s",
] + [f"query.{q}.{k}" for q in workloads.QUERY_SET for k in ("s", "jobs")]
OP_TIMEOUT_S = 120
# the driver JVM's heap, fixed (-Xms = -Xmx) and pre-touched
HEAP_MB = 2048


def say(line: str) -> None:
    print(f"# {line}", flush=True)


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples above it."""
    n = len(samples)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    s = sorted(samples)
    return p, s[min(n - 1, math.ceil(p / 100 * n) - 1)]


# ---------------------------------------------------------------------------
# host and memory
# ---------------------------------------------------------------------------


def host_spec(spark) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": jvm.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def cpu_probe_s() -> float:
    """Best of three timings of a fixed pure-Python loop: how fast this
    host's CPU was around the run (shared hosts drift by 10-20% within
    minutes), printed next to the results to tell host drift from a
    change in the program."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_500_000))
        best = min(best, time.perf_counter() - t0)
    return best


def _mem_mb(pid: int, path: str, key: str) -> float:
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def rss_mb(pid: int) -> float:
    return _mem_mb(pid, "status", "VmRSS:")


def pss_mb(pid: int) -> float:
    """Proportional set size: pages the forked Python workers share with
    their daemon count once across the sum. (Costly for a large process:
    the kernel walks its page tables.)"""
    return _mem_mb(pid, "smaps_rollup", "Pss:")


def python_descendants(root: int) -> list[int]:
    """The pyspark daemon and its workers. Other children of the JVM are
    skipped: Hadoop forks short-lived shell commands, and a forked JVM
    copy would count the JVM's pages again."""
    ppid: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        ppid.setdefault(parent, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in ppid.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return [p for p in out if _comm(p).startswith("python")]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak summed resident memory of the JVM (RSS) and its Python workers
    (PSS), sampled from /proc every 200 ms while ``active``. ``peak_nonheap``
    leaves out the JVM's fixed, pre-touched heap (``heap_mb``), which is
    resident from the start and does not move with the program."""

    def __init__(self, jvm_pid: int, heap_mb: float):
        self.jvm_pid = jvm_pid
        self.heap_mb = heap_mb
        self.peak_total = 0.0
        self.peak_nonheap = 0.0
        self.peak_workers = 0.0
        self.peak_jvm = 0.0
        self.max_workers = 0
        self.totals: list[float] = []
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            if not self.active:
                continue
            pids = python_descendants(self.jvm_pid)
            workers = sum(pss_mb(p) for p in pids)
            jvm = rss_mb(self.jvm_pid)
            self.max_workers = max(self.max_workers, len(pids))
            self.peak_workers = max(self.peak_workers, workers)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_total = max(self.peak_total, workers + jvm)
            self.peak_nonheap = max(self.peak_nonheap, workers + jvm - self.heap_mb)
            self.totals.append(workers + jvm)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# timed loop
# ---------------------------------------------------------------------------


def timed_window(wl, seconds: float, tracer):
    """Closed loop: the next operation starts when the previous returns.
    An operation that raises or outlives OP_TIMEOUT_S counts as failed."""
    ops, failures = [], []
    t_end = time.time() + seconds
    i = 0
    while len(ops) + len(failures) < wl.min_ops or time.time() < t_end:
        timer = threading.Timer(OP_TIMEOUT_S, wl.cancel)
        timer.start()
        try:
            with tracer.operation(i, f"op.{wl.name}"):
                res = wl.op(i)
        except Exception as e:  # noqa: BLE001 - an operation failure is a result
            failures.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
            break
        finally:
            timer.cancel()
        if res.ok:
            ops.append(res)
        else:
            failures.append(f"op {i}: {res.error}")
        i += 1
    return ops, failures


def summarize(ops) -> dict:
    samples = [s for o in ops for s in o.samples]
    wall = sum(o.wall_s for o in ops)
    return {
        "samples": samples,
        "op_p50_s": statistics.median(samples) if samples else float("nan"),
        "items_per_s": sum(o.units for o in ops) / wall if wall else float("nan"),
    }


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_build", "kg_stream", "kg_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="self-test: flip the expected fingerprint; the run must fail")
    return ap.parse_args(argv)


def prepare_environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    # a fixed, pre-touched heap: a lazily grown heap makes the JVM's
    # resident size follow GC timing, so a memory figure would measure the
    # collector. This way the heap is resident from the start, and
    # peak_nonheap_mb, which subtracts it, moves with the JVM's off-heap and
    # the Python workers' memory. (The session default of 8g is sized for a
    # 32-core host.)
    os.environ["MEHARI_SPARK_DRIVER_MEM"] = f"{HEAP_MB}m"
    os.environ["SPARK_SUBMIT_OPTS"] += f" -Xms{HEAP_MB}m -XX:+AlwaysPreTouch"
    # no hsperfdata file under /tmp
    os.environ["SPARK_SUBMIT_OPTS"] += " -XX:-UsePerfData"
    # executors' Python workers import the program through PYTHONPATH
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    sys.path.insert(0, ROOT)


def spark_cores() -> int:
    """local[nproc / 2]: every busy slot keeps a JVM task thread and a
    Python worker running, so local[nproc] puts about twice as many
    runnable threads as cores on the host (plus GC, JIT and the driver)
    and times the OS scheduler. On 4 cores kg_build ran 1.4x faster with
    two slots than with four."""
    return max(1, (os.cpu_count() or 2) // 2)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it (the
    JVM exits when its stdin closes; its Python workers stop with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    # run the cleanup below (and end the JVM) when the run is terminated
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "mehari_spark")):
        print("perfbench: mehari_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    import gen

    sizes = (gen.TINY if args.tiny else gen.SIZES)[args.workload]
    t_gen = time.time()
    inputs, meta = gen.ensure_inputs(os.path.join(WORK, "cache"), args.workload, args.seed, sizes)
    gen_s = time.time() - t_gen

    run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex[:12])
    prepare_environment(run_dir)
    try:
        import mehari_spark  # noqa: F401
        from mehari_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    try:
        return run(args, inputs, meta, gen_s, run_dir, get_spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, inputs, meta, gen_s, run_dir, get_spark) -> int:
    cores = spark_cores()
    t0 = time.time()
    spark = get_spark(
        f"perfbench-{args.workload}",
        cores=cores,
        shuffle_partitions=8,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - t0
    jvm = spark._jvm.java.lang
    sampler = RssSampler(int(jvm.ProcessHandle.current().pid()), HEAP_MB)
    tracer = Tracer()
    wl = workloads.WORKLOADS[args.workload](
        spark, tracer, inputs, meta, os.path.join(run_dir, "out")
    )
    wl.corrupt = args.corrupt_reference
    failures: list[str] = []
    heap_mb = jvm.Runtime.getRuntime().totalMemory() / 2**20
    if abs(heap_mb - HEAP_MB) > 1:
        failures.append(f"the JVM heap is {heap_mb:.0f} MB, not the fixed {HEAP_MB} MB")
    n_op_failures = 0
    ops: list = []
    more: list = []
    untraced = ledger = None
    setup_s = warmup_s = verify_s = float("nan")
    lo = hi = time.time()
    try:
        t1 = time.time()
        wl.prepare()
        warmup_s = time.time() - t1
        # input generation and the per-seed reference are cached by seed
        setup_s = time.time() - T_PROCESS - gen_s - wl.ref_s

        if args.trace:
            # the untraced half of the tracing-overhead comparison
            untraced, f0 = timed_window(wl, args.seconds, tracer)
            failures += f0
            n_op_failures += len(f0)
            tracer.enabled = True
            wl.install_trace()
        sampler.active = True
        lo = time.time()
        more, f1 = timed_window(wl, args.seconds, tracer)
        hi = time.time()
        sampler.active = False
        tracer.restore()
        ops = (untraced or []) + more
        failures += f1
        n_op_failures += len(f1)
        ledger = read_status_store(spark, since=lo) if args.trace else None
        t2 = time.time()
        failures += wl.verify()
        verify_s = time.time() - t2
    except Exception as e:  # noqa: BLE001 - report the failed run, then exit non-zero
        failures.append(f"{type(e).__name__}: {str(e)[:500]}")
    finally:
        tracer.restore()
        sampler.close()

    host = host_spec(spark)
    stop_spark(spark)
    host["cpu_probe_s"] = round(cpu_probe_s(), 4)

    s = summarize(more)
    say(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace} "
        f"(closed loop, 1 client, local[{cores}])")
    say(f"host {json.dumps(host)}")
    say(f"inputs {json.dumps(meta)} (generated in {gen_s:.2f} s, excluded from setup_s)")
    say(f"phases (s): session {start_s:.2f}, warm-up {warmup_s:.2f}, timed {hi - lo:.2f}, "
        f"checks {verify_s:.2f} (reference {wl.ref_s:.2f})")
    # the warm-up counts as an attempted operation: it fails the run when it
    # raises or (kg_query) its outputs are wrong
    attempted = 1 + len(ops) + n_op_failures
    n_failed = min(len(failures), attempted)
    for f in failures:
        say(f"FAILED {f}")
    e2e = {
        "setup_s": setup_s,
        "items_per_s": s["items_per_s"],
        "op_p50_s": s["op_p50_s"],
        "peak_nonheap_mb": sampler.peak_nonheap,
        "rss_samples": len(sampler.totals),
    }
    report_e2e(args.workload, wl, more, s, e2e, sampler, n_failed, attempted)
    say(f"memory median {statistics.median(sampler.totals or [0]):.1f} MB; peaks: "
        f"JVM {sampler.peak_jvm:.1f} MB, Python workers {sampler.peak_workers:.1f} MB "
        f"(at most {sampler.max_workers} processes)")

    if args.trace:
        metrics = layer_report(wl, tracer, ledger, untraced or [], more, lo, hi,
                               start_s, warmup_s, sampler, cores)
        out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    correct = n_failed == 0 and all(
        isinstance(m["value"], (int, float)) and math.isfinite(m["value"]) for m in out_metrics.values()
    )
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": n_failed,
                      "metrics": out_metrics}), flush=True)
    return 0 if correct else 1


def report_e2e(name, wl, ops, s, e2e, sampler, n_failed, attempted) -> None:
    samples = s["samples"]
    n_ops = len(ops)
    say(f"setup_s {e2e['setup_s']:.4f} s (n=1: process start to end of warm-up)")
    say(f"peak_rss_mb {sampler.peak_total:.1f} MB (peak over n={e2e['rss_samples']} samples every 200 ms "
        f"of JVM RSS + Python-worker PSS; {HEAP_MB} MB of it is the fixed, pre-touched Java heap)")
    say(f"peak_nonheap_mb {e2e['peak_nonheap_mb']:.1f} MB (the same peak without the Java heap; "
        f"Python workers alone peak at {sampler.peak_workers:.1f} MB)")
    say(f"fail_ratio {n_failed / attempted:.4f} ({n_failed}/{attempted} operations)")
    tail = tail_percentile(samples)
    tail_txt = f"p{tail[0]} {tail[1]:.4f} s" if tail else f"max {max(samples):.4f} s (fewer than 11 samples)" if samples else "n/a"
    if name in ("kg_build", "kg_stream"):
        say(f"turns_per_s {e2e['items_per_s']:.1f} 1/s (n={n_ops} operations, generated turns / wall)")
    if name == "kg_build":
        say(f"run_p50_s {e2e['op_p50_s']:.4f} s (n={len(samples)} pipeline runs); tail {tail_txt}")
    elif name == "kg_stream":
        say(f"epoch_p50_s {e2e['op_p50_s']:.4f} s (p50 of n={len(samples)} epochs)")
        say(f"epoch_tail_s {tail_txt} (n={len(samples)} epochs)")
    else:
        say(f"pass_s {e2e['op_p50_s']:.4f} s (median of n={len(samples)} pass sums)")
        geo = math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in wl.per_query.values() if v
        )) if all(wl.per_query.values()) else float("nan")
        say(f"query_geomean_s {geo:.4f} s (geomean of {len(wl.per_query)} per-query medians, n={n_ops} passes)")
        say(f"queries_per_s {e2e['items_per_s']:.3f} 1/s; the seed only changes the generated corpus")
    say("latency samples (s): " + " ".join(f"{x:.3f}" for x in samples))
    say(f"end-to-end metrics: items_per_s = {wl.unit}/s, op_p50_s = "
        + {"kg_build": "run_p50_s", "kg_stream": "epoch_p50_s", "kg_query": "pass_s"}[name])


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ratio") or name.endswith("yield"):
        return "ratio"
    return "count"


def layer_report(wl, tracer, ledger, untraced, traced, lo, hi, start_s, warmup_s,
                 sampler, cores) -> dict:
    metrics = dict.fromkeys(LAYER_METRICS, 0.0)
    metrics["session.start_s"] = start_s
    metrics["session.warmup_s"] = warmup_s
    metrics["kernels.python_worker_peak_rss_mb"] = sampler.peak_workers
    if ledger is not None and traced:
        per = len(wl.progress) if wl.name == "kg_stream" else len(traced)
        metrics.update(workloads.spark_layer_metrics(ledger, lo, hi, cores, per))
        metrics.update(wl.layer_metrics(ledger, traced))
        u = summarize(untraced)["op_p50_s"] if untraced else float("nan")
        metrics["trace.overhead_s"] = summarize(traced)["op_p50_s"] - u
        roots = [sp for sp in tracer.spans if sp.name.startswith("op.")]
        wall = sum(sp.dur for sp in roots)
        st = self_times(tracer.spans)
        unattributed = sum(st[sp.sid] for sp in roots)
        metrics["trace.unattributed_s"] = unattributed / max(1, len(roots))
        metrics["trace.attributed_ratio"] = (wall - unattributed) / wall if wall else 0.0
        # every span's self time, for the report lines
        agg: dict[str, list[float]] = {}
        for sp in tracer.spans:
            agg.setdefault(sp.name, []).append(st[sp.sid])
        for name, v in sorted(agg.items()):
            say(f"self {name}: {sum(v):.4f} s over {len(v)} spans")
    unknown = set(metrics) - set(LAYER_METRICS)
    if unknown:
        raise KeyError(f"unlisted layer metrics: {sorted(unknown)}")
    for k in LAYER_METRICS:
        say(f"{k} {metrics[k]:.6g} {unit_of(k)}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
