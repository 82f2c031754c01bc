"""Seeded link / profile benchmark for pprl_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload link --seed 1 --seconds 5 --trace 0

One closed-loop client: the process starts ``local[<nproc>]``, generates the
workload's inputs from the seed (``link`` also encodes both parties), runs
the workload's discarded warm-up iterations, then runs its job back to back
(each job finishes before the next one starts) for ``--seconds`` and at
least the workload's minimum number of samples.  Every iteration's output is
checked.  Stdout gets a settings line, a report line with every end-to-end
metric and quality figure, and, last, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the gated end-to-end ones (set-up and
per-iteration CPU seconds, peak memory); wall time and throughput are in the
report line.  With ``--trace 1`` the run spends half its time untraced and
half traced and reports the per-layer metrics, including the tracing
overhead.  See README.md.
"""


import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

DRIVER_MEMORY = "2g"

END_TO_END = [("setup_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict:
    """Environment every Spark process of the run inherits; returned so the
    output records it."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "OMP_NUM_THREADS": "1",
    }
    os.environ.update(env)
    return env


def start_session(nproc: int):
    from pprl_spark.spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # a fixed, pre-touched heap keeps the JVM's resident memory from
            # depending on when the heap happens to grow; what varies in
            # peak_rss_mb is off-heap memory and the Python workers
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )
    return spark


def warm_workers(spark, nproc: int) -> None:
    """Boot one Python worker per core before anything is timed."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _identity(v: pd.Series) -> pd.Series:
        return v

    spark.range(0, nproc * 1000, numPartitions=nproc).select(_identity("id").alias("x")).agg(
        F.sum("x")
    ).collect()


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _count_log(path: Path, needle: str) -> int:
    with open(path, errors="replace") as fh:
        return sum(needle in line for line in fh)


def run(args, env: dict, log_path: Path) -> tuple[dict, dict]:
    from tracing import LOG_ACCUMULATOR_ERROR, RssSampler, Tracer, host_steal_ticks, tree_cpu_s
    from workloads import PER_LAYER_KEYS, WORKLOADS, unit_of

    nproc = _nproc()
    wl = WORKLOADS[args.workload](WORK)
    spark = tracer = None
    attempted = failed = 0
    quality_seen: list[dict] = []
    layer_runs: list[dict] = []
    cpus: list[float] = []

    def loop(seconds: float, traced: bool, min_samples: int) -> list[float]:
        """Iterate back to back until ``seconds`` have passed and at least
        ``min_samples`` iterations ran; returns each iteration's wall time."""
        nonlocal attempted, failed
        walls: list[float] = []
        deadline = time.perf_counter() + seconds
        while len(walls) < min_samples or time.perf_counter() < deadline:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            if traced:
                with tracer.span(f"{wl.name}.iteration") as root:
                    out = wl.iterate_traced(spark, tracer, attempted)
            else:
                out = wl.iterate(spark, attempted)
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s() - c0)
            ok, quality = wl.check(out)
            attempted += 1
            failed += not ok
            quality_seen.append(quality)
            if not ok:
                print(f"check failed on iteration {attempted}: {quality}", file=sys.stderr)
            if traced:
                layer_runs.append(wl.layer_metrics(spark, tracer, root))
        return walls

    try:
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        spark = start_session(nproc)
        t1 = time.perf_counter()
        warm_workers(spark, nproc)
        t2 = time.perf_counter()
        wl.setup(spark, args.seed)
        t3 = time.perf_counter()
        setup_phases = {"session_s": t1 - t0, "warm_workers_s": t2 - t1, "inputs_s": t3 - t2}
        setup_cpu = tree_cpu_s() - c0
        t0 = time.perf_counter()
        wl.prepare_checks(spark)
        checks_setup_s = time.perf_counter() - t0

        tracer = Tracer(spark, enabled=bool(args.trace))
        with RssSampler(int(spark._jvm.ProcessHandle.current().pid())) as rss:
            t0 = time.perf_counter()
            for i in range(wl.warmup_iterations):
                wl.check(wl.iterate(spark, -1 - i))
            warmup_s = time.perf_counter() - t0
            log_mark = _count_log(log_path, LOG_ACCUMULATOR_ERROR)
            steal0 = host_steal_ticks()
            if args.trace:
                untraced = loop(args.seconds / 2, traced=False, min_samples=1)
                setup_layers = wl.trace_setup(spark, tracer)
                walls = loop(args.seconds / 2, traced=True, min_samples=1)
            else:
                walls = untraced = loop(args.seconds, traced=False, min_samples=wl.min_samples)
        steal1 = host_steal_ticks()
        acc_errors = _count_log(log_path, LOG_ACCUMULATOR_ERROR) - log_mark
    finally:
        if spark is not None:
            stop_jvm(spark)

    wall = statistics.median(walls)
    e2e = {
        "setup_s": setup_cpu,
        "cpu_s": statistics.median(cpus[-len(walls):]),
        "peak_rss_mb": rss.peak_kb / 1024.0,
    }
    quality = {k: statistics.median(q[k] for q in quality_seen) for k in quality_seen[0]} if quality_seen else {}
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END},
        "wall_s": {"value": wall, "unit": "s"},
        "throughput_rps": {"value": wl.records_per_iteration / wall, "unit": "1/s"},
        "setup_wall_s": {"value": sum(setup_phases.values()), "unit": "s"},
        "samples": len(walls),
        "wall_s_all": walls,
        "cpu_s_all": cpus,
        "host_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "setup_phases": setup_phases,
        "checks_setup_s": checks_setup_s,
        "warmup_s": warmup_s,
        "peak_rss_parts_mb": {"jvm": rss.peak_jvm_kb / 1024.0, "python_workers": rss.peak_workers_kb / 1024.0,
                              "max_processes": rss.max_processes},
        "quality": quality,
        "accumulator_error_lines": acc_errors,
    }
    if args.trace:
        runs = [setup_layers | r for r in layer_runs]
        layer = {k: statistics.median(r.get(k, 0) for r in runs) for k in PER_LAYER_KEYS}
        layer["spark.match.accumulator_errors"] = acc_errors / attempted
        traced_wall, untraced_wall = statistics.median(walls), statistics.median(untraced)
        layer |= {
            "trace.wall_s": traced_wall,
            "trace.untraced_wall_s": untraced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
        }
        report["per_layer"] = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
        OUT.mkdir(exist_ok=True)
        spans_path = OUT / f"spans-{wl.name}-seed{args.seed}.json"
        spans_path.write_text(json.dumps(tracer.spans, indent=1))
        report["spans_file"] = str(spans_path.relative_to(ROOT))
    settings = {
        "master": f"local[{nproc}]",
        "driver_memory": DRIVER_MEMORY,
        "warmup_iterations": wl.warmup_iterations,
        "min_samples": wl.min_samples,
        "seconds": args.seconds,
        "loop": "closed, one client, one job at a time",
        "env": env,
        "workload": wl.settings(),
    }
    return report, settings


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["link", "profile"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pprl_spark" / "__init__.py").is_file():
        print(f"perfbench: no pprl_spark package next to {HERE.name}/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir()
    env = pin_environment()
    log_path = WORK / "spark.log"
    # the JVM inherits fd 2, so Spark's log lands in the file
    saved_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        report, settings = run(args, env, log_path)
    except Exception:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        traceback.print_exc()
        tail = log_path.read_text(errors="replace").splitlines()[-40:]
        print("--- Spark log tail ---", *tail, sep="\n", file=sys.stderr)
        return 1
    finally:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        shutil.rmtree(WORK, ignore_errors=True)

    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({"settings": settings}))
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
