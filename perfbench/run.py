"""Benchmark of the tiki-spark engine: three workloads, end-to-end
metrics from an untraced run, per-layer metrics from a traced run.

Usage (from the repository root):

    python3 perfbench/run.py --workload dag_days --seed 1 --seconds 10 --trace 0

Workloads: dag_days, curation_queries, ingest_chain (see workloads.py
and METRICS.md).  The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; everything else
goes to stderr.  ``--trace 1`` alternates untraced and traced passes and
reports the per-layer metrics plus the tracing overhead, and writes the
spans to ``.perfbench_out/``.  ``--tiny`` shrinks every input (for the
benchmark's own tests).

Load: one process, Spark ``local[<cores>]`` with as many shuffle
partitions as cores, DAG runner at ``max_workers=1``, no threads of the
benchmark's own.  Every file a run writes lives under its own temporary
root inside the checkout, removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import probes  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tiki_e_commerce_analytics_etl_spark"


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the "end_to_end" or "per_layer" metrics listed in
    BENCHMARK.json, the one list both the harness and its readers use."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Bench:
    """Run-wide state shared by the harness and the workloads."""

    def __init__(self, spark, tmp: str, seed: int, tiny: bool) -> None:
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tiny = tiny
        self.tracer = None  # set only while a traced pass runs
        self.acid_root: str | None = None
        self._current: dict | None = None
        self.commit_bytes: dict[str, tuple[int, int]] = {}

    def span(self, name: str):
        """A tracer span while a traced pass runs, else nothing."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def note(self, **kw) -> None:
        """Attach values to the record of the operation now running."""
        if self._current is not None:
            self._current.update(kw)

    def patch_acid(self, tracer, root: str) -> None:
        """Spans around acid commits and reads, plus per-commit new files
        and bytes (growth of the table directory since its last commit)."""
        from tiki_e_commerce_analytics_etl_spark import acid

        def after_commit(args, kwargs, result, span):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            files, size = probes.tree_stats(path)
            pf, ps = self.commit_bytes.get(path, (0, 0))
            self.commit_bytes[path] = (files, size)
            span["files"] = max(0, files - pf)
            span["bytes"] = max(0, size - ps)

        tracer.patch(acid, "atomic_overwrite_partitions", "acid.commit", after=after_commit)
        tracer.patch(acid, "read_atomic", "acid.read")
        self.acid_root = root


def build_session(tmp: str, cores: int):
    from pyspark.sql import SparkSession

    from tiki_e_commerce_analytics_etl_spark.session import configure

    jtmp = os.path.join(tmp, "jvm")
    os.makedirs(jtmp, exist_ok=True)
    builder = (
        configure(SparkSession.builder.appName("perfbench").master(f"local[{cores}]"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(tmp, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "spark-warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={jtmp}",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it every Python
    worker it forked) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def guarded(w, what: str, fn) -> bool:
    """``fn()`` as a bool; an exception counts as False and is recorded."""
    try:
        return bool(fn())
    except Exception:  # noqa: BLE001 - a failure is counted, the run goes on
        w.failures.append(f"{what} raised:\n{traceback.format_exc(limit=4)}")
        return False


def run_op(b: Bench, w, p: int, i: int, name: str, fn, traced: bool) -> dict:
    sc = b.spark.sparkContext
    group = f"perfbench-{p}-{i}"
    sc.setJobGroup(group, name)
    rec = {"pass": p, "name": name, "traced": traced}
    b._current = rec
    if traced:
        b.tracer.op_id = len(b.tracer.spans)
        span = b.tracer.start(f"op.{name}")
    t_ms = time.time() * 1000
    t = time.perf_counter()
    ok = guarded(w, f"{name} (pass {p})", fn)
    rec["wall"] = time.perf_counter() - t
    if traced:
        b.tracer.end(span)
    sc.setLocalProperty("spark.jobGroup.id", None)
    b._current = None
    t = time.perf_counter()
    ok = ok and guarded(w, f"check of {name} (pass {p})", w.after_op)
    rec["check_s"] = time.perf_counter() - t
    rec["ok"] = ok
    if traced:
        rec.update(probes.fold_job_group(b.spark, group, rec["wall"], t_ms))
        rec["retained_rdds"], rec["retained_mb"] = probes.retained_storage(b.spark)
        if b.acid_root:
            rec["acid_files"], rec["acid_bytes"] = probes.tree_stats(b.acid_root)
    return rec


def layer_metrics(b: Bench, w, tr: probes.Tracer, traced_ops: list[dict], cores: int) -> dict[str, float]:
    n = max(1, len(traced_ops))
    out: dict[str, float] = {}
    wall = sum(o["wall"] for o in traced_ops)
    for k in ("jobs", "stages") + probes.STAGE_FIELDS + ("driver_only_s",):
        out[f"spark.{k}"] = sum(o.get(k, 0.0) for o in traced_ops) / n
    out["spark.cpu_util"] = (
        sum(o.get("executor_cpu_s", 0.0) for o in traced_ops) / (wall * cores) if wall else 0.0
    )
    rdds, mb = probes.retained_storage(b.spark)
    out["spark.retained_rdds"] = float(rdds)
    out["spark.retained_rdds_max"] = float(max([o.get("retained_rdds", 0) for o in traced_ops] + [rdds]))
    out["spark.retained_mb"] = mb
    out["jvm.peak_rss_mb"] = probes.jvm_peak_rss_mb(b.spark)

    commits = [s for s in tr.spans if s["name"] == "acid.commit" and s["end"]]
    commit_s = [s["end"] - s["start"] for s in commits]
    out["acid.commits"] = len(commits) / n
    out["acid.commit_s"] = sum(commit_s) / n
    out["acid.commit_p50_s"] = probes.median(commit_s)
    out["acid.read_s"] = sum(tr.durations("acid.read")) / n
    out["acid.files"] = float(traced_ops[-1].get("acid_files", 0)) if traced_ops else 0.0
    out["acid.files_per_commit"] = (
        sum(s.get("files", 0) for s in commits) / len(commits) if commits else 0.0
    )
    out["acid.bytes_written_mb"] = sum(s.get("bytes", 0) for s in commits) / (1 << 20) / n
    for key, span in (
        ("plans.snapshot_s", "plans.snapshot"),
        ("plans.golden_join_s", "plans.golden_join"),
        ("operators.merge_s", "operators.merge"),
        ("operators.checks_s", "operators.checks"),
    ):
        out[key] = sum(tr.durations(span)) / n
    out.update(w.per_layer(traced_ops))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="shrink every input (tests)")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, PACKAGE)) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {PACKAGE}/ and __spark_entry__.py must sit next to perfbench/", file=sys.stderr)
        return 2
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "py"))
    # Isolation: temp files of Python, the JVM and Spark stay under tmp;
    # Python workers import the package from this checkout.
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        cores = len(os.sched_getaffinity(0))
        spark = build_session(tmp, cores)
        result = run(spark, args, tmp, cores)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(f"perfbench: stopped at {time.perf_counter() - T_START:.2f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


def run(spark, args, tmp: str, cores: int) -> dict:
    b = Bench(spark, tmp, args.seed, args.tiny)
    w = workloads.WORKLOADS[args.workload](b)
    t_session = time.perf_counter() - T_START
    w.setup()
    setup_s = time.perf_counter() - T_START - sum(w.land_times) + statistics.median(w.land_times)
    print(
        f"perfbench: {w.name} inputs {w.digest[:16]} set up in {setup_s:.2f} s "
        f"(session {t_session:.2f} s, landing {statistics.median(w.land_times):.2f} s x{len(w.land_times)})",
        file=sys.stderr,
    )

    tracer = probes.Tracer() if args.trace else None
    ops: list[dict] = []
    passes: list[tuple[bool, float]] = []
    start = time.perf_counter()
    p = 0
    while True:
        traced = bool(args.trace) and p % 2 == 1
        todo = w.ops(p)
        if not todo:
            break
        if traced:
            b.tracer = tracer
            w.trace_patches(tracer)
        t = time.perf_counter()
        recs = [run_op(b, w, p, i, name, fn, traced) for i, (name, fn) in enumerate(todo)]
        wall = time.perf_counter() - t - sum(r["check_s"] for r in recs)
        if traced:
            tracer.restore()
            b.tracer = None
        if not guarded(w, f"check of pass {p}", lambda: w.after_pass(p)):
            for r in recs:
                r["ok"] = False
        ops += recs
        passes.append((traced, wall))
        p += 1
        # a traced run needs one untraced and one traced pass
        if time.perf_counter() - start >= args.seconds and (not args.trace or p >= 2):
            break

    print(
        f"perfbench: timed section done at {time.perf_counter() - T_START:.2f} s, "
        f"untimed checks {sum(o['check_s'] for o in ops):.2f} s",
        file=sys.stderr,
    )
    plain = [o for o in ops if not o["traced"]]
    plain_passes = [wall for tr, wall in passes if not tr]
    lat = [o["wall"] for o in plain]
    tail, pct, n = probes.tail(lat)
    failed = sum(not o["ok"] for o in ops)
    for f in w.failures:
        print(f"perfbench: FAIL {f}", file=sys.stderr)
    print(
        f"perfbench: {len(passes)} passes of {w.pass_unit}, {len(ops)} operations; "
        f"op.tail_s is p{pct:.1f} of {n} samples",
        file=sys.stderr,
    )
    if args.trace:
        traced_ops = [o for o in ops if o["traced"]]
        metrics = layer_metrics(b, w, tracer, traced_ops, cores)
        metrics["op.p50_s"] = probes.median(lat)
        metrics["op.tail_s"] = tail
        metrics["op.tail_percentile"] = pct
        metrics["op.samples"] = float(n)
        size, rows = w.stored()
        metrics["store.bytes_per_row"] = size / rows if rows else 0.0
        traced_passes = [wall for tr, wall in passes if tr]
        metrics["trace.overhead_s"] = probes.median(traced_passes) - probes.median(plain_passes)
        metrics["trace.spans"] = float(len(tracer.spans))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{w.name}-{args.seed}.json"), "w") as f:
            json.dump(
                {"workload": w.name, "seed": args.seed, "digest": w.digest, "passes": passes,
                 "ops": ops, "spans": tracer.spans, "self_s": tracer.self_times(), "metrics": metrics},
                f,
            )
        units = metric_units("per_layer")
    else:
        metrics = {
            "setup_s": setup_s,
            "run_s": probes.median(plain_passes),
            "op_gmean_s": probes.gmean(lat),
        }
        units = metric_units("end_to_end")
    stray = set(metrics) - set(units)
    missing = set() if args.trace else set(units) - set(metrics)
    if stray or missing:
        raise KeyError(f"not in BENCHMARK.json: {sorted(stray)}; not computed: {sorted(missing)}")
    return {
        "correct": not w.failures and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
