"""Benchmark entry point: one workload, one process, one result line.

    python3 perfbench/run.py --workload reshape_mix --seed 1 --seconds 18 --trace 0

Run it from the root of a checkout of the repository. It derives its
inputs from ``--seed``, sets up, checks correctness, measures for
``--seconds`` (default: ``run_seconds`` of ``BENCHMARK.json``) and
prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it report each correctness gate. Everything the run writes
goes under ``.perfbench_work/`` (removed at exit), except what it keeps in
``.perfbench_out/``: the per-operation records of every run and, for
traced runs, the span dump. ``--smoke`` runs every
workload at sf0.001 for a few operations (the benchmark's own test).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.probes import descendants  # noqa: E402
from perfbench.workloads import CHAIN_SIZES, CHAIN_SEED, FROZEN_PATH, WORKLOADS, Ctx, run  # noqa: E402


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    pin the timezone, and make the repository importable by workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # a fixed 1 GB heap (-Xms below), so the process-tree peak RSS does
    # not follow the JVM's adaptive heap growth
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
            "pyspark-shell",
        ]
    )


def _stop_spark(ctx: Ctx) -> None:
    """Stop the session and the JVM it launched, then wait for every
    descendant process (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if ctx.spark is not None:
        ctx.spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _freeze(ctx: Ctx) -> None:
    """Recompute the operator chain's frozen row counts and hashes."""
    from avro_sql_spark.session import get_spark

    import __spark_entry__
    from perfbench import data
    from perfbench.workloads import chain_outputs

    ctx.spark = get_spark("perfbench-freeze", cpus=4, shuffle_partitions=4)
    frozen = {}
    for scale, sizes in CHAIN_SIZES.items():
        tables_dir = os.path.join(ctx.work, scale)
        for name, table in data.flat_tables(CHAIN_SEED, *sizes).items():
            data.write_parquet(table, os.path.join(tables_dir, f"{name}.parquet"))
        frozen[scale] = chain_outputs(ctx.spark, __spark_entry__.queries(), tables_dir)
    with open(FROZEN_PATH, "w") as f:
        json.dump(frozen, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 inputs, a few operations")
    ap.add_argument("--freeze", action="store_true", help="rewrite frozen_outputs.json and exit")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "avro_sql_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: no avro_sql_spark checkout at {ROOT}", file=sys.stderr)
        return 2

    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = float(json.load(f)["run_seconds"])
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _prepare_env(work)
    ctx = Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), smoke=args.smoke,
              work=work, t_start=T_START)
    try:
        if args.freeze:
            _freeze(ctx)
            return 0
        result = run(args.workload, ctx)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"ops-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(ctx.rounds, f)
        if ctx.trace:
            ctx.tracer.dump(os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)
    for name, ok in ctx.gates.items():
        print(f"# gate {name}: {'pass' if ok else 'FAIL'}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
