"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 12 --trace 0

Workloads: ``analyst_sql``, ``etl_ingest`` and ``lakehouse_txn``.

One process is one run: a fresh Spark session on ``local[4]`` with a
2 GB driver heap, inputs generated from ``--seed``, an untimed warm-up,
then a fixed, seeded sequence of ops timed by one closed-loop client.
``--seconds`` sets how many ops that sequence holds (never a time
budget).  Outputs are checked after timing.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` records spans and prints the per-layer
metrics instead, writing the spans to ``.perfbench-traces/``.  Failed
ops and wrong outputs are named on stderr, with ``host.calib_s``, a
fixed CPU loop timed at the start and end of the run; the result line is
still printed, and the exit status is then 1.

The run works in a fresh directory under ``.perfbench-run/`` and removes
it at the end.  The program keeps build-once artifacts (index
materializations, scratch zones) under ``.scratch/``; every entry a run
adds there is removed when it ends, so each run starts from the state
"no artifact for this run's inputs exists" and pays their build inside
its warm-up.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

#: Fixed Spark resources, recorded here so every run and commit match.
CPUS = 4
DRIVER_MEM = "2g"


def _age_at_import() -> float:
    """Seconds from process start to this module's import (Linux), else 0."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


AGE_AT_IMPORT = _age_at_import()


def process_age() -> float:
    """Seconds since this process started."""
    return AGE_AT_IMPORT + time.perf_counter() - T0


def calib() -> float:
    """A fixed pure-Python CPU loop, independent of the program."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


class Ctx:
    def __init__(self, seed: int, run_dir: pathlib.Path, tracer):
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None


def start_spark(tracer):
    from market_etl_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_ops(ctx, ops, failures: list):
    """Run ``ops`` in order; returns ``[(kind, latency_s)]`` of the ops
    that completed.  An op that raises is recorded in ``failures``."""
    tr = ctx.tracer
    done = []
    for i, (name, kind, fn) in enumerate(ops):
        with tr.spark_op(ctx.spark, i), tr.span(f"op.{kind}"):
            t = time.perf_counter()
            try:
                fn()
            except Exception as e:
                failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                traceback.print_exc(file=sys.stderr)
                continue
            done.append((kind, time.perf_counter() - t))
    return done


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not (ROOT / "market_etl_spark" / "__init__.py").is_file():
        print(f"no program under {ROOT}", file=sys.stderr)
        return 2

    run_dir = ROOT / ".perfbench-run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        TMPDIR=str(run_dir / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        # no hsperfdata files under the system temp dir
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}'"
            " pyspark-shell"
        ),
    )
    scratch = ROOT / ".scratch"
    scratch_before = set(os.listdir(scratch)) if scratch.is_dir() else None
    cwd = os.getcwd()
    os.chdir(run_dir)

    tracer = spans.Tracer(enabled=bool(args.trace))
    ctx = Ctx(args.seed, run_dir, tracer)
    wl = workloads.make(args.workload, args.seconds)
    failures: list[str] = []
    result = None
    try:
        calib_start = calib()
        ctx.spark = start_spark(tracer)
        wl.setup(ctx)
        warm, timed = wl.ops[: wl.warmup_ops], wl.ops[wl.warmup_ops :]
        # the warm-up is untimed and untraced: the tracer records only
        # the timed ops (and the session start above)
        tracer.enabled = False
        run_ops(ctx, warm, failures)
        tracer.enabled = bool(args.trace)
        if hasattr(wl, "after_warmup"):
            wl.after_warmup()
        # start the timed phase without the warm-up's garbage on either heap
        gc.collect()
        ctx.spark._jvm.System.gc()
        setup_s = process_age()

        t = time.perf_counter()
        done = run_ops(ctx, timed, failures)
        wall = time.perf_counter() - t
        tracer.enabled = False
        try:
            problems = wl.verify()
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            problems = [f"verification raised {type(e).__name__}: {e}"]
        for p in problems:
            print(f"perfbench: WRONG {p}", file=sys.stderr)
        for f in failures:
            print(f"perfbench: FAILED op {f}", file=sys.stderr)
        attempted = len(timed) + len(warm)
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(done) / wall, "1/s"),
            "op_p50_s": (p50([d for _, d in done]), "s"),
        }
        calib_end = calib()
        host_calib = (calib_start + calib_end) / 2
        print(f"perfbench: host.calib_s={host_calib:.4f}", file=sys.stderr)
        if args.trace:
            metrics = layer_metrics(ctx, wl, done, wall, host_calib)
            metrics["failed_frac"] = (len(failures) / attempted, "frac")
            trace_dir = ROOT / ".perfbench-traces"
            trace_dir.mkdir(exist_ok=True)
            tracer.dump(str(trace_dir / f"{args.workload}-{args.seed}.json"))
        else:
            metrics = e2e
        result = {
            "correct": not problems and not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".perfbench-run").rmdir()
        except OSError:
            pass
        if scratch.is_dir():
            if scratch_before is None:
                shutil.rmtree(scratch, ignore_errors=True)
            else:
                for name in set(os.listdir(scratch)) - scratch_before:
                    p = scratch / name
                    shutil.rmtree(p) if p.is_dir() else p.unlink()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


#: Unit of every per-layer metric.  A layer the workload never calls
#: reads 0.
LAYER_UNITS = {
    "host.calib_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.bookkeeping_s": "s",
    "op.p90_s": "s",
    "op.read_p50_s": "s",
    "op.write_p50_s": "s",
    "failed_frac": "frac",
    "space_amp": "ratio",
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "spark.action_s": "s",
    "spark.analysis_s": "s",
    "spark.optimization_s": "s",
    "spark.planning_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.persisted_rdds_end": "count",
    "ingest.download_s": "s",
    "ingest.download_bytes": "B",
    "ingest.unzip_s": "s",
    "ingest.unzip_bytes": "B",
    "sinks.write_s": "s",
    "catalog.register_s": "s",
    "etl.plan_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "quality.kept_frac": "frac",
    **{
        f"lakehouse.{n}_s": "s"
        for n in (
            "append", "delete_where", "merge_into", "compact", "commit",
            "snapshot", "read_table", "read_exec", "checkpoint",
        )
    },
    "lakehouse.log_versions": "count",
    "lakehouse.live_files": "count",
    "lakehouse.files_rewritten_per_write": "count",
    "lakehouse.bytes_written_per_user_byte": "ratio",
    "lakehouse.commit_conflicts": "count",
}


def layer_metrics(ctx, wl, done, wall, host_calib) -> dict:
    """Per-layer metrics of the traced run.  Times are per timed op
    unless the name says otherwise."""
    tr = ctx.tracer
    c = tr.counts
    n = max(len(done), 1)
    lat = sorted(d for _, d in done)
    v = dict.fromkeys(LAYER_UNITS, 0.0)
    v.update(
        {
            "host.calib_s": host_calib,
            "trace.ops_per_s": len(done) / wall,
            "trace.bookkeeping_s": c["trace.bookkeeping_s"] / n,
            "op.p90_s": lat[math.ceil(0.9 * len(lat)) - 1] if lat else 0.0,
            "op.read_p50_s": p50([d for k, d in done if k == "read"]),
            "op.write_p50_s": p50([d for k, d in done if k == "write"]),
            "session.get_spark_s": tr.total("session.get_spark"),
            "spark.failed_tasks": c["spark.failed_tasks"],
            "ingest.download_bytes": c["ingest.download_bytes"],
            "ingest.unzip_bytes": c["ingest.unzip_bytes"],
            "etl.plan_s": tr.self_time("etl.run_trades_etl") / n,
        }
    )
    for span in ("queries.build", "spark.action", "ingest.download", "ingest.unzip",
                 "sinks.write", "catalog.register"):
        v[f"{span}_s"] = tr.total(span) / n
    for name in ("analysis", "optimization", "planning"):
        v[f"spark.{name}_s"] = c[f"spark.{name}_s"] / n
    for name in ("jobs", "stages", "tasks"):
        v[f"spark.{name}_per_op"] = c[f"spark.{name}"] / n
    for name, unit in LAYER_UNITS.items():
        if name.startswith("lakehouse.") and unit == "s":
            v[name] = tr.total(name[:-2]) / n
    if hasattr(wl, "space"):
        disk, user = wl.space()
        v["space_amp"] = disk / max(user, 1)
    v.update(wl.layer_metrics(ctx.spark))
    return {k: (x, LAYER_UNITS[k]) for k, x in v.items()}


if __name__ == "__main__":
    sys.exit(main())
