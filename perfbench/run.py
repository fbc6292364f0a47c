#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload survival --seed 1 --seconds 3 --trace 0

Run from the repository root. One client drives the engine from this
process and sends the next operation only when the last one finished.
Inputs are generated from ``--seed`` under ``.perfbench_work/``; Spark
runs at ``local[nproc]`` with the engine's default session posture
(``get_spark``) and ``SPARK_GRAFT_CPUS=nproc``.

A run: generate inputs -> set up (engine import, session, one warm-up
scan) -> one cold pass over the operation list -> one settling pass (not
measured) -> warm passes until ``--seconds`` have passed -> output check
(untimed) -> report. The last stdout line is the JSON result;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run, which first makes the untraced run at
the same seed in a child process to measure the tracing overhead. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SCALE = "0.1"  # the source tables' scale; some registry queries read it from the path
SNAPSHOT = "March 2023"

sys.path.insert(0, HERE)

from spans import Tracer  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "cancer_survival_etl_spark", "session.py"))


def prepare_env(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # keep the JVM's temp files and perf-data inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def peak_rss_mb() -> tuple[float, list[float]]:
    """Peak resident memory of this driver plus its JVM child, and the
    per-process parts."""
    me = os.getpid()
    parts = [vm_hwm_kb(p) / 1024.0 for p in [me, *child_pids(me)]]
    return sum(parts), parts


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def machine_key(spark) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "cpus": nproc(),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def tail(samples: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile with at least 10 samples beyond it, or
    (None, None) when there are too few samples for one."""
    if len(samples) <= 10:
        return None, None
    cuts = statistics.quantiles(samples, n=100, method="inclusive")
    for p in range(99, 0, -1):
        if sum(x > cuts[p - 1] for x in samples) >= 10:
            return cuts[p - 1], p
    return None, None


class Bench:
    def __init__(self, args, run_dir: str, data_dir: str, books_dir: str) -> None:
        self.args = args
        self.run_dir, self.data_dir, self.books_dir = run_dir, data_dir, books_dir
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.errors: list[str] = []
        self.tracer = Tracer()
        self.op_jobs: dict[str, dict] = {}

    # -- set-up ------------------------------------------------------------
    def setup(self) -> float:
        t0 = time.perf_counter()
        import __spark_entry__
        from cancer_survival_etl_spark.session import get_spark

        extra = None
        if self.args.trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=extra)
        t2 = time.perf_counter()
        self.spark.read.parquet(os.path.join(self.data_dir, "region.parquet")).count()
        t3 = time.perf_counter()
        self.session_times = {"session.get_spark_s": t2 - t1, "session.first_scan_s": t3 - t2}
        self.queries = __spark_entry__.queries()
        return t3 - t0

    # -- operations --------------------------------------------------------
    def run_op(self, name: str, group: str | None):
        """Run one operation; returns (seconds, handle for the check)."""
        from workloads import ETL_OPS

        sc = self.spark.sparkContext
        tr = self.tracer
        t0 = time.perf_counter()
        if name in ETL_OPS:
            if group:
                sc.setJobGroup(f"{group}:etl", name)
            with tr.span(name, "op"):
                handle = self.publish() if name == "publish" else self.read_views()
            return time.perf_counter() - t0, handle
        fn = self.queries[name]
        with tr.span(name, "op"):
            if group:
                sc.setJobGroup(f"{group}:build", name)
            with tr.span("build", "entry"):
                df = fn(self.spark, self.data_dir)
            if group:
                sc.setJobGroup(f"{group}:run", name)
            with tr.span("run", "entry"):
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, df

    def publish(self):
        from cancer_survival_etl_spark import pipeline
        from cancer_survival_etl_spark.sources import sinks

        from gen import TARGETS

        pipeline.run_pipeline(
            self.spark, self.books_dir, TARGETS,
            sink=lambda df, table: sinks.overwrite_table(
                df, os.path.join(self.warehouse, table)),
            snapshot_date=SNAPSHOT,
        )
        return self.warehouse

    def read_views(self):
        from cancer_survival_etl_spark.plans import views

        with self.tracer.span("views", "plans"):
            names = views.register_reporting_views(
                self.spark,
                self.spark.read.parquet(os.path.join(self.warehouse, "INDEX")),
                self.spark.read.parquet(os.path.join(self.warehouse, "ADULT_4")),
            )
            for n in names:
                self.spark.table(n).write.format("noop").mode("overwrite").save()
        return names

    def run_pass(self, ops: list[str], tag: str | None):
        """One pass; returns (wall seconds, [(op, seconds)], {op: handle})."""
        lat, handles = [], {}
        t0 = time.perf_counter()
        for i, name in enumerate(ops):
            group = f"{tag}:{i}:{name}" if tag else None
            self.tracer.op_id = group
            try:
                dt, handles[name] = self.run_op(name, group)
                lat.append((name, dt))
            except Exception as exc:  # an error is a failed operation
                self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                lat.append((name, None))
            if tag:
                self.spark.sparkContext._jsc.clearJobGroup()
                self.job_stats(group)
        return time.perf_counter() - t0, lat, handles

    # -- traced-run bookkeeping -------------------------------------------
    def job_stats(self, group: str) -> None:
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        rec = self.op_jobs.setdefault(group, {})
        for phase in ("build", "run", "etl"):
            jobs = st.getJobIdsForGroup(f"{group}:{phase}")
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else []:
                    si = st.getStageInfo(s)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
                        failed += si.numFailedTasks
            rec[phase] = {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                          "failed_tasks": failed}
        rec["pinned_rdds"] = sc._jsc.getPersistentRDDs().size()

    # -- output check --------------------------------------------------------
    def check(self, handles: dict) -> dict[str, list[str]]:
        from check import Oracle, check_publish, check_views
        from gen import TARGETS

        oracle = Oracle(ROOT, self.data_dir)
        bad: dict[str, list[str]] = {}
        self.check_times = {}
        for name, h in handles.items():
            t = time.perf_counter()
            try:
                if name == "publish":
                    problems = check_publish(oracle, self.spark, h, self.args.seed,
                                             TARGETS, SNAPSHOT)
                elif name == "views":
                    problems = check_views(oracle, self.spark, self.warehouse, h)
                else:
                    problems = oracle.check_query(name, h)
            except Exception as exc:
                problems = [f"check error: {type(exc).__name__}: {str(exc)[:300]}"]
            if problems:
                bad[name] = problems
            self.check_times[name] = time.perf_counter() - t
        return bad


def declared_metrics(trace: int) -> list[str] | None:
    """The metric names BENCHMARK.json declares for this mode, if present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        doc = json.load(fh)
    return [m["name"] for m in doc["per_layer" if trace else "end_to_end"]]


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit: the gateway JVM
    exits when its stdin closes."""
    import subprocess

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def generate(args, run_dir: str):
    """Write this run's inputs from a child process; return the data and
    workbook directories and the sizes of what was written."""
    import subprocess

    from workloads import ETL_OPS, TABLES, WORKLOADS

    data_dir = os.path.join(run_dir, f"sf{SCALE}")
    books_dir = os.path.join(run_dir, "books")
    out = os.path.join(run_dir, "inputs.json")
    with_books = "1" if ETL_OPS & set(WORKLOADS[args.workload]) else "0"
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), str(args.seed), data_dir,
         books_dir, ",".join(TABLES[args.workload]), with_books, out],
        check=True,
    )
    with open(out) as fh:
        sizes = json.load(fh)
    return data_dir, books_dir, sizes["tables"], sizes["workbooks"]


def untraced_walls(args) -> list[float]:
    """Warm-pass wall times of the untraced run at the same seed, made by
    a child process before this traced run starts, so the tracing
    overhead (traced pass minus untraced pass) includes the event log."""
    import subprocess

    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        check=True, stdout=sys.stderr,
    )
    name = f"{args.workload}-seed{args.seed}-trace0.json"
    with open(os.path.join(WORK, "results", name)) as fh:
        return json.load(fh)["warm_walls"]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: engine sources (__spark_entry__.py, "
              "cancer_survival_etl_spark/) not found under " + ROOT, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    ops = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)

    plain_walls = untraced_walls(args) if args.trace else []

    t = time.perf_counter()
    data_dir, books_dir, sizes, books = generate(args, run_dir)
    gen_s = time.perf_counter() - t

    bench = Bench(args, run_dir, data_dir, books_dir)
    ticks0 = cpu_ticks()
    setup_s = bench.setup()
    spark = bench.spark
    if args.trace:
        from instrument import instrument

        instrument(bench.tracer)

    cold_s, cold_lat, _ = bench.run_pass(ops, None)
    # one settling pass, not measured: the first pass after the cold one
    # is still 8-15% slower than later ones (JIT), so measuring it would
    # make the warm figures depend on how many passes fit in --seconds
    bench.run_pass(ops, None)

    # warm passes until --seconds have passed (at least one); a traced run
    # makes exactly one, with spans on
    warm_lat: list[tuple[str, float | None]] = []
    walls: list[float] = []
    handles: dict = {}
    t0 = time.perf_counter()
    bench.tracer.enabled = bool(args.trace)
    while not walls or (not args.trace and time.perf_counter() - t0 < args.seconds):
        tag = f"p{len(walls)}" if args.trace else None
        wall, lat, handles = bench.run_pass(ops, tag)
        walls.append(wall)
        warm_lat += lat
    warm_s = sum(walls)
    rss, rss_parts = peak_rss_mb()
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])

    t = time.perf_counter()
    bad = bench.check(handles)
    check_s = time.perf_counter() - t
    key = machine_key(spark)
    t = time.perf_counter()
    shutdown(spark)
    stop_s = time.perf_counter() - t

    attempted = len(ops) * (2 + len(walls))
    failed = len(bench.errors) + len(bad)
    samples = [d for _, d in warm_lat if d is not None]
    correct_ops = sum(1 for n, d in warm_lat if d is not None and n not in bad)
    tail_s, tail_p = tail(samples)

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "machine": key, "inputs": sizes, "workbooks": books,
        "gen_s": gen_s, "check_s": check_s, "check_times": bench.check_times,
        "stop_s": stop_s, "peak_rss_mb": rss, "rss_parts_mb": rss_parts,
        "cpu_steal_share": steal,
        "warm_walls": walls, "warm_samples": len(samples),
        "op_tail_s": tail_s, "op_tail_percentile": tail_p,
        "errors": bench.errors, "mismatches": bad,
        "failed_share": failed / attempted,
        "cold_per_op": dict(cold_lat),
        "per_op": {n: [d for m, d in warm_lat if m == n] for n in ops},
    }
    if args.trace:
        from layers import per_layer_metrics

        metrics = per_layer_metrics(bench, walls, plain_walls, books)
        bench.tracer.write(os.path.join(run_dir, "spans.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold_s, "s"),
            "op_p50_s": (statistics.median(samples) if samples else float("nan"), "s"),
            "ops_per_s": (correct_ops / warm_s, "1/s"),
        }
    declared = declared_metrics(args.trace)
    if declared is not None and declared != list(metrics):
        raise SystemExit(f"perfbench: metrics {list(metrics)} differ from "
                         f"BENCHMARK.json's {declared}")
    report["metrics"] = {k: v for k, (v, _) in metrics.items()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", os.path.basename(run_dir) + ".json"), "w") as fh:
        json.dump(report, fh, indent=1)

    print(f"machine: {json.dumps(key)}")
    print(f"inputs: {json.dumps(sizes)}")
    print(f"workload {args.workload}: {len(ops)} operations, 1 closed-loop client, "
          f"{len(walls)} warm passes, {len(samples)} warm samples, "
          f"gen_s={gen_s:.2f} check_s={check_s:.2f} stop_s={stop_s:.2f}; "
          f"CPU steal {steal:.1%} of machine time from set-up to the last warm pass")
    print(f"op_tail_s: p{tail_p} of {len(samples)} samples = {tail_s:.6g} s" if tail_p
          else f"op_tail_s: none (needs more than 10 warm samples, have {len(samples)})")
    print(f"failed_share: {failed}/{attempted} = {failed / attempted:.4f}")
    print(f"peak_rss_mb: {rss:.6g} MB (driver + JVM VmHWM before the check; "
          f"not gated, see perfbench/README.md)")
    for e in bench.errors:
        print(f"error: {e}")
    for n, p in bad.items():
        print(f"mismatch: {n}: {'; '.join(p)[:500]}")
    for name, (v, unit) in metrics.items():
        print(f"{name}: {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
