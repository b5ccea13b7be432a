"""Closed-loop benchmark of the similarity engine.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload retrieval --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One client in one process drives a ``local[<cores>]`` session: each job is
submitted only after the previous one finished, and the engine sees only the
generated input files. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced rebuild of the same job. The
last line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--workload all`` runs every
workload in its own process and prints a table of all of them.

Everything the run writes (inputs, outputs, Spark scratch space, spans) goes
under ``.perfbench_work/`` in the checkout and is removed at the end, except
the spans file of a traced run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "similarity_analysis_big_data_spark"
MIN_WARM_JOBS = 2
JOB_TIMEOUT_S = 60.0

END_TO_END = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.gc_s": "s",
    "session.heap_peak_mb": "MiB",
    "sources.read_s": "s",
    "sources.read_bytes": "bytes",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "functions.tokenize_s": "s",
    "functions.term_rows": "count",
    "functions.tfidf_s": "s",
    "functions.minhash_s": "s",
    "operators.similarity.join_s": "s",
    "operators.similarity.pair_rows": "count",
    "operators.similarity.useful_ratio": "ratio",
    "operators.similarity.argmax_s": "s",
    "operators.similarity.topk_s": "s",
    "operators.similarity.scored_pairs": "count",
    "operators.dedup.lsh_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.verify_s": "s",
    "operators.dedup.verified_ratio": "ratio",
    "operators.components_s": "s",
    "operators.components.jobs": "count",
    "plans.call_s": "s",
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.tasks": "count",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.slot_busy_share": "ratio",
    "plans.python_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def warm_job_count(seconds: float, nominal_s: float) -> int:
    """Warm jobs per run: ``seconds`` worth at the workload's nominal job
    time, fixed per workload so that every run samples the same stretch of
    the JIT warm-up curve (warm jobs still speed up for ten or more jobs
    after the first, so a time-boxed loop would compare medians taken at
    different points of that curve)."""
    return max(MIN_WARM_JOBS, round(seconds / nominal_s))


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- memory


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants. A child between its
    (v)fork and its exec still shares its parent's address space (same
    executable, same virtual size) and is not counted a second time."""
    procs: dict[int, tuple[int, int, int]] = {}  # pid -> (ppid, vsize, rss pages)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        procs[int(d)] = (int(fields[1]), int(fields[20]), int(fields[21]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            ppid, vsize, rss = procs[pid]
            shares_parent = pid != root and procs[ppid][1] == vsize and _exe(pid) == _exe(ppid)
            if not shares_parent:
                total += rss
        stack.extend(children.get(pid, []))
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc. ``paused()`` keeps the
    benchmark's own work (output checks) out of the peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()
        self._lock = threading.Lock()
        self._paused = False

    def run(self):
        while not self._stop_event.is_set():
            with self._lock:
                if not self._paused:
                    self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop_event.wait(self.interval)

    @contextlib.contextmanager
    def paused(self):
        with self._lock:  # waits for a sample in flight
            self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


# ---------------------------------------------------------------- session


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and size the session to the cores this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["MPLCONFIGDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(work: str):
    from similarity_analysis_big_data_spark.session import get_session

    spark = get_session(
        "perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up
    from similarity_analysis_big_data_spark.plans import registry

    registry.query_map()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python worker)
    has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- jobs


class Runner:
    """Runs workload jobs one after another and counts failures."""

    def __init__(self, spark, workload, ctx):
        self.spark = spark
        self.sc = spark.sparkContext
        self.w = workload
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def job(self, group: str | None = None):
        """One timed job: (succeeded, output, wall seconds)."""
        self.spark.catalog.clearCache()
        self.ctx["build_s"] = 0.0
        self.ctx["frames"] = []
        self.attempted += 1
        if group:
            self.sc.setJobGroup(group, group, interruptOnCancel=False)
        watchdog = threading.Timer(JOB_TIMEOUT_S, self.sc.cancelAllJobs)
        watchdog.start()
        t0 = time.perf_counter()
        try:
            out = self.w.job(self.spark, self.ctx)
        except Exception as exc:  # a failed job is counted, the loop goes on
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            return False, None, time.perf_counter() - t0
        finally:
            watchdog.cancel()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        return True, out, time.perf_counter() - t0

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


def run_workload(args, import_s: float) -> dict:
    """One run of a workload. ``import_s`` is the time spent importing the
    benchmark's own modules (DuckDB, pandas for the checks); it is not part
    of ``setup_s``, and neither is input generation."""
    import workloads
    import spans as tr

    w = workloads.WORKLOADS[args.workload]
    params = w.sizes[args.size]
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.size}-s{args.seed}-p{os.getpid()}")
    data, out = os.path.join(work, "data"), os.path.join(work, "out")

    t_gen = time.perf_counter()
    w.generate(data, args.seed, params)
    gen_s = time.perf_counter() - t_gen
    rss = RssSampler()
    rss.start()
    configure_env(work)
    spark = start_session(work)
    setup_s = time.perf_counter() - T_START - gen_s - import_s
    sc = spark.sparkContext
    ctx = {"dir": data, "out": out}
    runner = Runner(spark, w, ctx)
    result = {"correct": True, "notes": {}}

    def inspect(job_out, check: bool) -> str | None:
        """Load, check and fingerprint a job's output outside the timed
        interval and the memory peak; None if the check failed."""
        with rss.paused():
            job_out = w.load(job_out, ctx)
            if check:
                ok, msg = w.check(job_out, ctx)
                if not ok:
                    runner.fail(f"first job output check: {msg}")
                    return None
            return workloads.fingerprint(job_out)

    try:
        gc0 = tr.jvm_gc_seconds(sc)
        tr.jvm_heap_peak_mb(sc, reset=True)
        ok, first, first_s = runner.job()
        ref_fp = inspect(first, check=True) if ok else None
        if ref_fp is None:
            result["correct"] = False
        if args.workload == "retrieval":
            result["notes"]["strategy"] = [workloads.retrieval_strategy(spark, data)]

        warm, builds = [], []
        plan_stats = []
        n_warm = warm_job_count(args.seconds, w.nominal_s)
        if args.trace:
            n_warm = max(1, n_warm // 2)  # the rest of the run goes to the traced rebuild
        for _ in range(n_warm if ref_fp is not None else 0):
            group = f"perfbench-plans-{len(warm)}" if args.trace else None
            ok, o, dt = runner.job(group)
            if not ok:
                continue
            warm.append(dt)
            builds.append(ctx["build_s"])
            if inspect(o, check=False) != ref_fp:
                runner.fail("warm job output differs from the first job's")
                result["correct"] = False
            if args.workload == "retrieval":
                result["notes"]["strategy"].append(workloads.retrieval_strategy(spark, data))
            if group:
                tr.drain_listener_bus(sc)
                stats = tr.group_stats(sc, group)
                stats["python_s"] = sum(tr.python_seconds(df) for df in ctx["frames"])
                plan_stats.append((stats, dt))
        gc_s = tr.jvm_gc_seconds(sc) - gc0
        heap_peak_mb = tr.jvm_heap_peak_mb(sc)

        if not warm:
            result["correct"] = False
            metrics = {}
        elif not args.trace:
            metrics = {
                "setup_s": setup_s,
                "first_job_s": first_s,
                "job_p50_s": statistics.median(warm),
                "rows_per_s": sum(params[k] for k in w.rows_keys) * len(warm) / sum(warm),
                "peak_rss_mb": rss.stop() / 2**20,
            }
            result["samples"] = {"setup_s": 1, "first_job_s": 1, "job_p50_s": len(warm), "rows_per_s": len(warm), "peak_rss_mb": 1}
            result["warm_s"] = warm
        else:
            layers = traced_metrics(args, spark, w, ctx, ref_fp, runner, result, warm, builds, plan_stats, work)
            session = {"session.start_s": setup_s, "session.gc_s": gc_s / (1 + len(warm)),
                       "session.heap_peak_mb": heap_peak_mb}
            metrics = {**session, **layers} if layers else {}
    finally:
        stop_session(spark)
        rss.stop()
        keep = os.path.join(work, "spans.jsonl")
        if os.path.exists(keep):
            for name in os.listdir(work):
                if name != "spans.jsonl":
                    shutil.rmtree(os.path.join(work, name), ignore_errors=True)
        else:
            shutil.rmtree(work, ignore_errors=True)
    result.update(attempted=runner.attempted, failed=runner.failed, errors=runner.errors, metrics=metrics)
    result["correct"] = bool(result["correct"] and runner.failed == 0 and metrics)
    return result


def traced_metrics(args, spark, w, ctx, ref_fp, runner, result, warm, builds, plan_stats, work):
    """Run one traced rebuild of the job and turn its spans, with the
    status-store counters of the untraced warm jobs, into per-layer
    metrics."""
    import workloads
    import spans as tr

    sc = spark.sparkContext
    tracer = tr.Tracer(sc, f"{args.workload}-s{args.seed}")
    spark.catalog.clearCache()
    runner.attempted += 1
    root = None
    try:
        with tracer.span("job", workload=args.workload, seed=args.seed) as root:
            out, counts = w.traced(spark, tracer, ctx)
            for name in workloads.LAYER_SPANS:
                if not any(s.name == name and s.parent == root.span_id for s in tracer.spans):
                    with tracer.span(name):
                        pass  # layer bypassed by this workload
        if workloads.fingerprint(w.load(out, ctx)) != ref_fp:
            runner.fail("traced rebuild output differs from the registered query's")
            result["correct"] = False
    except Exception as exc:  # counted like a failed untimed job
        runner.fail(f"traced job: {type(exc).__name__}: {str(exc)[:300]}")
        root = None
    spark.catalog.clearCache()
    tr.drain_listener_bus(sc)
    for s in tracer.spans:
        s.attrs.update(tr.group_stats(sc, s.span_id))
    tracer.write(os.path.join(work, "spans.jsonl"))
    result["spans"] = os.path.join(work, "spans.jsonl")
    if root is None:
        return {}

    def layer(name):
        return sum(tracer.self_time(s) for s in tracer.children(root) if s.name == name)

    def layer_attr(name, key):
        return sum(s.attrs.get(key, 0) for s in tracer.children(root) if s.name == name)

    stats = [s for s, _ in plan_stats]
    return {
        "sources.read_s": layer("sources.read"),
        "sources.read_bytes": layer_attr("sources.read", "input_bytes"),
        "sources.write_s": layer("sources.write"),
        "sources.write_bytes": counts.get("sources.write_bytes", 0),
        "functions.tokenize_s": layer("functions.tokenize"),
        "functions.term_rows": counts.get("functions.term_rows", 0),
        "functions.tfidf_s": layer("functions.tfidf"),
        "functions.minhash_s": layer("functions.minhash"),
        "operators.similarity.join_s": layer("operators.similarity.join"),
        "operators.similarity.pair_rows": counts.get("operators.similarity.pair_rows", 0),
        "operators.similarity.useful_ratio": counts.get("operators.similarity.useful_ratio", 0.0),
        "operators.similarity.argmax_s": layer("operators.similarity.argmax"),
        "operators.similarity.topk_s": layer("operators.similarity.topk"),
        "operators.similarity.scored_pairs": counts.get("operators.similarity.scored_pairs", 0),
        "operators.dedup.lsh_s": layer("operators.dedup.lsh"),
        "operators.dedup.candidates": counts.get("operators.dedup.candidates", 0),
        "operators.dedup.verify_s": layer("operators.dedup.verify"),
        "operators.dedup.verified_ratio": counts.get("operators.dedup.verified_ratio", 0.0),
        "operators.components_s": layer("operators.components"),
        "operators.components.jobs": layer_attr("operators.components", "jobs"),
        "plans.call_s": layer("plans.call"),
        "plans.build_s": statistics.median(builds) if w.returns_plan else statistics.median(
            dt - s["job_wall_s"] for s, dt in plan_stats
        ),
        "plans.jobs": statistics.median(s["jobs"] for s in stats),
        "plans.tasks": statistics.median(s["tasks"] for s in stats),
        "plans.shuffle_write_bytes": statistics.median(s["shuffle_write_bytes"] for s in stats),
        "plans.spill_bytes": statistics.median(s["spill_bytes"] for s in stats),
        "plans.slot_busy_share": statistics.median(s["run_s"] / (dt * cores()) for s, dt in plan_stats),
        "plans.python_s": statistics.median(s["python_s"] for s in stats),
        "trace.job_s": root.duration,
        "trace.overhead_s": root.duration - statistics.median(warm),
    }


# ---------------------------------------------------------------- output


def percentile_label(n: int) -> str | None:
    """Highest percentile with at least ten samples beyond it."""
    if n < 20:
        return None
    return f"p{math.floor(100 * (1 - 10 / n))}"


def summary_lines(name: str, res: dict) -> list[str]:
    out = [f"# {name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
           f"fail_ratio={res['failed'] / max(1, res['attempted']):.4f}"]
    samples = res.get("samples", {})
    for key, val in res["metrics"].items():
        out.append(f"#   {key:40s} {val['value']:>16.6g} {val['unit']:8s} n={samples.get(key, 1)}")
    warm = res.get("warm_s") or []
    if warm:
        out.append(f"#   warm job seconds: {' '.join(f'{x:.3f}' for x in warm)}")
    label = percentile_label(len(warm))
    if label:
        q = statistics.quantiles(warm, n=100)[int(label[1:]) - 1]
        out.append(f"#   job_{label}_s {q:.6g} s n={len(warm)}")
    if res.get("notes", {}).get("strategy"):
        out.append(f"#   retrieval strategy per job: {','.join(res['notes']['strategy'])}")
    for e in res.get("errors", []):
        out.append(f"#   error: {e}")
    return out


def with_units(metrics: dict, units: dict) -> dict:
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


def run_all(args) -> int:
    """Each workload in a fresh process (set-up and first job are per
    process), then one table."""
    import workloads

    results = {}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            results[name] = None
        for ln in lines[:-1]:
            print(ln)
    ok = all(r is not None and r["correct"] for r in results.values())
    attempted = sum(r["attempted"] for r in results.values() if r)
    failed = sum(r["failed"] for r in results.values() if r)
    metrics = {}
    for name, r in results.items():
        for key, val in (r or {}).get("metrics", {}).items():
            metrics[f"{name}.{key}"] = val
    print(json.dumps({"correct": ok, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(os.getcwd(), PACKAGE, "__init__.py")):
        print(f"perfbench: run from the repository root; no {PACKAGE}/ package in {os.getcwd()}", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    if args.workload == "all":
        return run_all(args)
    t_import = time.perf_counter()
    import workloads

    import_s = time.perf_counter() - t_import
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one of {sorted(workloads.WORKLOADS)} or all",
              file=sys.stderr)
        return 2
    res = run_workload(args, import_s)
    units = PER_LAYER if args.trace else END_TO_END
    res["metrics"] = with_units(res["metrics"], units)
    for line in summary_lines(args.workload, res):
        print(line)
    if res.get("spans"):
        print(f"# spans: {os.path.relpath(res['spans'])}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
