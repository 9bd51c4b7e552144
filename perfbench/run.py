"""Feature-store benchmark: one command per workload.

    python3 perfbench/run.py --workload online_write_mix --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run sets up the workload ``SETUPS`` times
(each time on a new Spark session in the same JVM, with fresh generated
inputs) and reports the median set-up time, then measures the last state:
one client in a closed loop doing about ``--seconds`` of work, every answer
checked.  The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A
traced run records spans around every call into the program and reports
self times, Spark and py4j counts and the tracing overhead.  Lines before
the last give every figure with its unit and the run's provenance; the same
record and, when traced, the spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time
from pathlib import Path

from spans import Tracer, by_name, self_times
from stats import median, percentile, tail_percentile
from workloads import WORKLOADS, Run

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "feature_store_healthcare_spark"
#: set-ups per run; setup_s is their median
SETUPS = 3
#: driver heap: the largest workload's cached tables need well under 1 GB
DRIVER_MEM = "1g"

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_speed(seconds: float = 0.5) -> float:
    """Rounds per second of a fixed pure-Python loop, a reading of how fast
    the host runs one core right now; recorded with the run, not a metric."""
    rounds, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        sum(i * i for i in range(10_000))
        rounds += 1
    return rounds / (time.perf_counter() - t0)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the heap is committed and touched up front (-Xms, AlwaysPreTouch), so
    # peak RSS does not swing with the collector's heap sizing from run to run
    java_opts = (f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={work / 'derby'}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            # keep every job of a traced run readable by the status tracker
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )


class Session:
    """Starts and stops Spark sessions on ``local[nproc]``; the first start
    launches the JVM, later ones reuse it."""

    def __init__(self, run, cores: int) -> None:
        self.run = run
        self.cores = cores
        self.jvm_launch_s = None
        self.start_s: list[float] = []

    def start(self) -> None:
        from feature_store_healthcare_spark.session import get_spark

        t = time.perf_counter()
        with self.run.tracer.span("session.get_spark"):
            spark = get_spark("perfbench", master=f"local[{self.cores}]",
                              shuffle_partitions=self.cores)
        took = time.perf_counter() - t
        if self.jvm_launch_s is None:
            self.jvm_launch_s = took
        else:
            self.start_s.append(took)
        spark.sparkContext.setLogLevel("ERROR")
        self.run.spark = spark
        self.run.tracer.attach(spark)

    def stop(self) -> None:
        if self.run.spark is not None:
            self.run.tracer.detach()
            self.run.spark.stop()
            self.run.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def setup_once(session: Session, workload, i: int) -> float:
    """One full set-up: new session, generated inputs, ingest or index
    builds, warm-up.  Returns its wall time."""
    session.stop()
    t = time.perf_counter()
    with session.run.tracer.span("setup", setup=i):
        session.start()
        workload.setup(i)
    return time.perf_counter() - t


def end_to_end(res, setup_times, rss_mb) -> dict:
    return {
        "setup_s": (median(setup_times), "s"),
        "request_p50_ms": (median(res.latencies_ms), "ms"),
        "items_per_s": (res.items_per_s, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "ok_share": ((res.attempted - res.failed) / res.attempted, "share"),
    }


def per_layer(tracer, res, session) -> dict:
    """Per-layer metrics every workload has, from the measured ops' spans."""
    ops = set(res.ops)
    spans = [s for s in tracer.spans if s.op_id in ops]
    n = len(ops)
    total = {k: sum(getattr(s, k) for s in spans)
             for k in ("jobs", "stages", "tasks", "failed_tasks", "py4j_calls")}
    return {
        "session.start_s": (median(session.start_s), "s"),
        "spark.jobs_per_op": (total["jobs"] / n, "count"),
        "spark.stages_per_op": (total["stages"] / n, "count"),
        "spark.tasks_per_op": (total["tasks"] / n, "count"),
        "spark.failed_tasks": (total["failed_tasks"], "count"),
        "py4j.calls_per_op": (total["py4j_calls"] / n, "count"),
        # the tracer's own time around spans, as a share of the measured time
        "trace.overhead_share": (sum(s.overhead_s for s in spans) / res.elapsed_s, "share"),
    }


def overhead_vs_untraced(out_dir: Path, workload: str, e2e: dict) -> list[str]:
    """Tracing overhead: this traced run's end-to-end figures against the
    median of the untraced runs of the same workload recorded in
    ``out_dir``."""
    recs = []
    for path in sorted(out_dir.glob(f"{workload}-s*-t0.json")):
        try:
            recs.append(json.loads(path.read_text())["end_to_end"])
        except (OSError, ValueError, KeyError):
            continue
    if not recs:
        return ["tracing overhead vs untraced runs: no untraced run of this "
                "workload recorded in .perfbench_out/"]
    lines = []
    for k in ("request_p50_ms", "items_per_s"):
        base = median([r[k]["value"] for r in recs if k in r])
        lines.append(f"tracing overhead on {k}: {(e2e[k][0] - base) / base:+.2%} "
                     f"(traced {e2e[k][0]:.4g} vs median {base:.4g} of {len(recs)} untraced runs)")
    return lines


def tail_lines(res) -> list[str]:
    lines = []
    for name, samples in res.tails.items():
        p = tail_percentile(len(samples))
        if p is None:
            lines.append(f"{name}_tail: fewer than 20 samples (n={len(samples)})")
        else:
            lines.append(f"{name}_p{p:g}_ms = {percentile(samples, p):.3f} ms "
                         f"(n={len(samples)}, highest percentile with >=10 beyond)")
    return lines


def layer_table(tracer, res) -> list[str]:
    """Self time next to Spark and py4j counts, per span name and op type."""
    ops = set(res.ops)
    spans = [s for s in tracer.spans if s.op_id in ops]
    lines = ["span                                  calls   total_s    self_s  jobs stages  tasks failed  py4j"]
    for name, r in sorted(by_name(spans).items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:<36} {r['calls']:>6} {r['total_s']:>9.3f} {r['self_s']:>9.3f} "
                     f"{r['jobs']:>5} {r['stages']:>6} {r['tasks']:>6} {r['failed_tasks']:>6} "
                     f"{r['py4j_calls']:>5}")
    selfs = self_times(tracer.spans)
    by_type: dict[str, list] = {}
    for s in spans:
        by_type.setdefault(res.ops[s.op_id], []).append(s)
    for op_type, group in sorted(by_type.items()):
        n_ops = sum(1 for o in ops if res.ops[o] == op_type)
        per_op: dict[int, float] = {}
        for s in group:
            if s.parent is None:
                per_op[s.op_id] = per_op.get(s.op_id, 0.0) + s.duration
        lines.append(
            f"op {op_type}: n={n_ops} p50={median(list(per_op.values())) * 1000:.3f} ms "
            f"jobs/op={sum(s.jobs for s in group) / n_ops:.2f} "
            f"stages/op={sum(s.stages for s in group) / n_ops:.2f} "
            f"tasks/op={sum(s.tasks for s in group) / n_ops:.2f} "
            f"failed_tasks={sum(s.failed_tasks for s in group)} "
            f"py4j/op={sum(s.py4j_calls for s in group) / n_ops:.1f} "
            f"self_s={sum(selfs[s.span_id] for s in group):.3f}"
        )
    actions: dict[str, list[float]] = {}
    for s in spans:
        if s.name == "spark.action":
            actions.setdefault(s.attrs.get("step", "?"), []).append(s.duration)
    for step, durs in sorted(actions.items()):
        lines.append(f"spark.exec_s[{step}] = {median(durs):.4f} s (p50 of {len(durs)})")
    return lines


def fmt(metrics: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    isolate(work)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, out_dir: Path) -> int:
    import pyspark

    cores = nproc()
    load_before = os.getloadavg()
    speed_before = host_speed()
    tracer = Tracer(enabled=bool(args.trace))
    run = Run(args.seed, work, tracer)
    session = Session(run, cores)
    phases = {}
    workload = WORKLOADS[args.workload](run)
    try:
        phases["start"] = time.perf_counter()
        setup_times = [setup_once(session, workload, i) for i in range(SETUPS)]
        phases["setups"] = time.perf_counter()
        res = workload.measure(args.seconds)
        phases["measure"] = time.perf_counter()
        spark_version = run.spark.version
        jvm = session.jvm_pid()
        rss_py, rss_jvm = vm_hwm_mb(os.getpid()), (vm_hwm_mb(jvm) if jvm else 0.0)
    finally:
        session.shutdown()
    phases["shutdown"] = time.perf_counter()
    load_after = os.getloadavg()
    speed_after = host_speed()

    if not res.latencies_ms or not res.items_per_s:
        for f in res.failures:
            print("FAILED " + f.replace("\n", " | "), file=sys.stderr)
        print(f"perfbench: no {args.workload} request succeeded", file=sys.stderr)
        return 1
    e2e = end_to_end(res, setup_times, rss_py + rss_jvm)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "provenance": {
            "nproc": cores,
            "master": f"local[{cores}]",
            "driver_memory": DRIVER_MEM,
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            # a pure-Python loop's rounds per second before and after: runs on
            # a busy shared host read lower here and slower in every metric
            "host_speed_before": speed_before,
            "host_speed_after": speed_after,
            "spark": spark_version,
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "jvm_launch_s": session.jvm_launch_s,
            "peak_rss_mb_python": rss_py,
            "peak_rss_mb_jvm": rss_jvm,
            "setup_s_each": setup_times,
            "session_start_s_each": session.start_s,
            # wall seconds of each phase of this process, checks included
            "phase_wall_s": {
                name: round(t - prev, 3)
                for (name, t), prev in zip(list(phases.items())[1:], list(phases.values()))
            },
        },
        "end_to_end": fmt(e2e),
        "named": fmt(res.named),
        "attempted": res.attempted,
        "failed": res.failed,
        "failures": res.failures,
        "samples_ms": res.tails,
    }
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("provenance " + json.dumps(record["provenance"]))
    for name, (value, unit) in {**e2e, **res.named}.items():
        print(f"{name} = {value:.6g} {unit}")
    for line in tail_lines(res):
        print(line)
    result_metrics = e2e
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        result_metrics = per_layer(tracer, res, session)
        record["per_layer"] = fmt(result_metrics)
        for name, (value, unit) in result_metrics.items():
            print(f"{name} = {value:.6g} {unit}")
        for line in layer_table(tracer, res) + overhead_vs_untraced(out_dir, args.workload, e2e):
            print(line)
        spans_path = out_dir / f"{stem}-spans.jsonl"
        tracer.write(str(spans_path))
        print(f"spans written to {spans_path.relative_to(ROOT)}")
    for f in res.failures:
        print("FAILED " + f.replace("\n", " | "))
    (out_dir / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": fmt(result_metrics),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
