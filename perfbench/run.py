"""Seeded end-to-end benchmark of the pyppi_spark engine.

    python3 perfbench/run.py --workload transcript_features --seed 1 \\
        --seconds 10 --trace 0

Runs one workload as a closed loop with one client: a single process,
``local[nproc/2]`` with as many shuffle partitions, and the next pass starts
only when the previous one has finished. It sets up the seeded inputs
once, runs one cold pass straight after, then at least two warm passes
and more until ``--seconds`` have gone by, checks the outputs, and prints a report
followed by one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns Spark's
event log on, runs untraced warm passes for half of ``--seconds`` and traced
passes (one span per layer call, see ``trace.py``) for the other half, and
reports the per-layer metrics and the tracing overhead. Metric definitions,
the workloads' reasons and the layer map are in ``RATIONALE.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

# warm passes of an untraced run: at least this many, so wall_s is a
# median over passes on every host, not one pass early on the JIT's curve
MIN_WARM = 2

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# every span the workloads open, in pipeline order; a span the workload
# does not open reports 0 for each of its metrics
SPANS = [
    "features.turn_features",
    "features.conv_features_from_turns",
    "checkpoint.run_with_checkpoints",
    "pit.cumulative_state",
    "asof.asof_join",
    "dedup.exact_dedup",
    "dedup.minhash_signatures",
    "dedup.minhash_lsh_candidates",
    "dedup.ngram_jaccard_pairs",
    "dedup.near_dedup_representatives",
    "quality_lm.unigram_surprisal",
    "quality_lm.rank_buckets",
    "dsir.dsir_scores",
    "dsir.gumbel_topk",
    "similarity.semantic_dedup_pairs",
    "dedup.content_keys",
    "dedup.minhash_bands",
    "dedup.exact_dedup_incremental",
    "dedup.near_dedup_incremental",
]
SPAN_METRICS = {
    "self_s": "s", "rows_out": "count", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio", "driver_s": "s",
}
PYTHON_SPANS = [
    "dedup.near_dedup_representatives",
    "similarity.semantic_dedup_pairs",
    "dedup.near_dedup_incremental",
]


def process_age_s() -> float:
    """Seconds since this process started, on the boot clock (10 ms
    resolution): the uptime minus the process's start time since boot."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak resident memory of this process tree (driver Python, the JVM,
    Python workers): the sum over processes of each one's own peak
    (``VmHWM``), polled between steps until ``freeze``. A process that
    exits between polls counts up to its last poll."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}
        self.name: dict[int, str] = {}
        self.frozen = False

    def freeze(self) -> None:
        """Ignore later polls: the JVM's heap keeps growing, in steps that
        fall at different passes from run to run, so the figure covers a
        fixed part of the run: setup and the cold pass, what one
        ``spark-submit`` run of the job holds."""
        self.frozen = True

    def poll(self) -> None:
        if self.frozen:
            return
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        todo, tree = [os.getpid()], []
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, []))
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read().splitlines()
            except OSError:
                continue
            hwm = [int(line.split()[1]) for line in status if line.startswith("VmHWM:")]
            if hwm:
                self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), hwm[0])
                self.name[pid] = status[0].split()[-1]

    def mb(self) -> float:
        return sum(self.peak_kb.values()) * 1024 / 1e6

    def mb_by_name(self) -> dict[str, float]:
        """The same sum, split by process name (``java``, ``python3``, ...)."""
        out: dict[str, float] = {}
        for pid, kb in self.peak_kb.items():
            out[self.name[pid]] = out.get(self.name[pid], 0.0) + kb * 1024 / 1e6
        return out


def start_spark(work: str, cores: int, event_log: str | None):
    """The engine's own session factory, sized from the machine, with all
    scratch files under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    jvm_scratch = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the short-lived JVM spark-submit starts to build the real command
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_scratch
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the session's own GC choice, plus JVM scratch files under work
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC {jvm_scratch}",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                # the default zstd codec needs a reader that is not installed
                "spark.eventLog.compress": "false",
            }
        )
    from pyppi_spark.session import build_spark

    spark = build_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM, and with it the Python
    workers it forked, has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """Operation accounting. Passes, setups, digests and each output check
    are operations; an exception or a failed check is a failed one."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []

    def op(self, what: str, fn):
        """``(ok, result)`` of ``fn()``, printing the traceback on failure."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.failed += 1
            print(f"FAILED {what}:", file=sys.stderr)
            traceback.print_exc()
            return False, None

    def check(self, fn) -> None:
        """Record the checks ``fn`` returns; if it raises, one failed check."""
        try:
            results = fn()
        except Exception:
            traceback.print_exc()
            results = [("checks", False, "raised; traceback on stderr")]
        self.record_checks(results)

    def record_checks(self, results: list[tuple[str, bool, str]]) -> None:
        for name, passed, detail in results:
            self.attempted += 1
            self.failed += not passed
            self.checks.append((name, bool(passed), detail))

    def record_digests(self, digests: dict[str, str]) -> None:
        distinct = sorted(set(digests.values()))
        self.record_checks(
            [("digest_identical_across_passes", len(distinct) == 1,
              f"{len(distinct)} distinct over {len(digests)} passes")]
        )


def quartiles(xs: list[float]) -> str:
    if len(xs) < 2:
        return f"n={len(xs)} {[round(x, 3) for x in xs]}"
    q = statistics.quantiles(xs, n=4)
    return f"n={len(xs)} q1={q[0]:.3f} q3={q[2]:.3f} {[round(x, 3) for x in xs]}"


def layer_metrics(tr, spans: list[dict], events: list[dict], untraced: list[float],
                  traced: list[float]) -> dict:
    """Per-layer metrics: each span metric is the median over that span's
    calls in the traced passes."""
    by_name: dict[str, list[dict]] = {}
    for f in tr.fold_spans(spans, events):
        if f["rows_out"] is None:  # a write: the rows it wrote
            f["rows_out"] = f["output_rows"]
        by_name.setdefault(f["name"], []).append(f)

    def med(name: str, key: str) -> float:
        xs = [f[key] for f in by_name.get(name, [])]
        return float(statistics.median(xs)) if xs else 0.0

    m = {}
    for name in SPANS:
        for key, unit in SPAN_METRICS.items():
            m[f"{name}.{key}"] = {"value": med(name, key), "unit": unit}
    for name in PYTHON_SPANS:
        m[f"{name}.python_mb"] = {"value": med(name, "python_mb"), "unit": "MB"}
    cands = med("dedup.minhash_lsh_candidates", "rows_out")
    m["dedup.ngram_jaccard_pairs.precision"] = {
        "value": med("dedup.ngram_jaccard_pairs", "rows_out") / cands if cands else 0.0,
        "unit": "ratio",
    }
    m["dedup.near_dedup_incremental.frozen_rows_read"] = {
        "value": med("dedup.near_dedup_incremental", "input_rows"), "unit": "count",
    }
    u, t = statistics.median(untraced), statistics.median(traced)
    m["trace.untraced_wall_s"] = {"value": u, "unit": "s"}
    m["trace.traced_wall_s"] = {"value": t, "unit": "s"}
    m["trace.overhead_frac"] = {"value": t / u - 1.0, "unit": "ratio"}
    return m


def measure(args, wl_cls, tr, work: str) -> int:
    nproc = len(os.sched_getaffinity(0))
    # half the CPUs run tasks: the JVM's JIT compiler threads take another
    # two or so through every pass here, and with a task thread on every CPU
    # each stage waits on whichever thread the scheduler set aside
    cores = max(1, nproc // 2)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    run, rss = Run(), PeakRss()
    spark = start_spark(work, cores, event_log)
    stopped = False
    try:
        session_s = process_age_s()
        wl = wl_cls(spark, args.seed)
        ok, _ = run.op("setup", lambda: wl.setup(os.path.join(work, "setup")))
        if not ok:
            return 1
        setup_s = process_age_s()
        rss.poll()

        passes: list[tuple[str, str, float]] = []  # (kind, dir, wall)
        increments: list[float] = []

        def run_passes(kind: str, tracer, window_s: float, min_passes: int = 1) -> None:
            """At least ``min_passes`` passes; more while the window is open."""
            t_start = time.perf_counter()
            done = 0
            while True:
                d = os.path.join(work, f"pass_{len(passes)}")
                # start every pass from a collected heap, so a full GC owed
                # to the previous pass does not land in this one
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                ok, _ = run.op(f"{kind} pass", lambda: wl.run_pass(d, tracer))
                wall = time.perf_counter() - t0
                done += 1
                rss.poll()
                if kind == "cold":
                    rss.freeze()
                if ok:
                    passes.append((kind, d, wall))
                    if kind == "warm":
                        increments.extend(wl.increment_s)
                if done >= min_passes and time.perf_counter() - t_start >= window_s:
                    return

        untraced = tr.Tracer(spark.sparkContext, enabled=False)
        traced = tr.Tracer(spark.sparkContext, enabled=True)
        window = args.seconds / 2 if args.trace else args.seconds
        run_passes("cold", untraced, 0)
        run_passes("warm", untraced, window, 1 if args.trace else MIN_WARM)
        if args.trace:
            run_passes("traced", traced, window)

        walls = {k: [w for kind, _, w in passes if kind == k] for k in ("cold", "warm", "traced")}
        if not walls["cold"] or not walls["warm"] or (args.trace and not walls["traced"]):
            return 1  # no figures to report; the failures are on stderr
        t0 = time.perf_counter()
        digests = {}
        for _, d, _ in passes:
            ok, dg = run.op(f"digest {d}", lambda: wl.digest(d))
            if ok:
                digests[d] = dg
        run.record_digests(digests)
        last_warm = [d for kind, d, _ in passes if kind == "warm"][-1]
        run.check(lambda: wl.checks(last_warm))
        checks_s = time.perf_counter() - t0
        stop_spark(spark)
        stopped = True

        wall_s = statistics.median(walls["warm"])
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_wall_s": (walls["cold"][0], "s"),
            "wall_s": (wall_s, "s"),
            "rows_per_s": (wl.input_rows / wall_s, "1/s"),
            "peak_rss_mb": (rss.mb(), "MB"),
        }
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "task_threads": cores,
            "load": "closed loop, 1 client: each pass starts when the previous one ends",
            "inputs": wl.sizes,
            "passes": {k: len(v) for k, v in walls.items()},
            "digest": sorted(set(digests.values())),
            "phase_s": {"session": session_s, "inputs": setup_s - session_s, "checks": checks_s},
            "peak_rss_mb_by_process": rss.mb_by_name(),
            "checks": [{"name": n, "passed": p, "detail": det} for n, p, det in run.checks],
        }
        print(f"# {report['load']}; nproc={nproc}; local[{cores}]; seed={args.seed}")
        print("# report " + json.dumps(report))
        print(f"# warm passes: {quartiles(walls['warm'])}")
        for k, (v, unit) in e2e.items():
            print(f"# {k} = {v:.6g} {unit}")
        print(f"# {wl.input_unit}_per_s = {wl.input_rows / wall_s:.6g} 1/s")
        if increments:
            print(f"# increment_s = {statistics.median(increments):.6g} s ({quartiles(increments)})")
        print(f"# ops_failed_frac = {run.failed / run.attempted:.6g} ({run.failed}/{run.attempted})")

        if args.trace:
            metrics = layer_metrics(
                tr, traced.spans, tr.read_event_log(event_log), walls["warm"], walls["traced"]
            )
        else:
            metrics = {k: {"value": v, "unit": unit} for k, (v, unit) in e2e.items()}
        correct = run.failed == 0
        print(json.dumps({"correct": correct, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0
    finally:
        if not stopped:
            stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # import the benchmark as a package from the checkout root, and keep its
    # module names (trace, inputs, ...) from shadowing others
    sys.path[:] = [ROOT] + [p for p in sys.path if p and os.path.abspath(p) != HERE]
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, WORKLOADS[args.workload], tr, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: pyarrow's thread pools can abort it after
    # all output is written and every child process has exited
    os._exit(code)
