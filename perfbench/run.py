#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_headline --seed 1 --seconds 5 --trace 0

A run generates (or reuses) the seed's inputs, starts a Spark session on
local[4], runs one untimed warm-up pass over the workload's operations,
then runs timed passes in a closed loop with one client (each operation
starts only after the previous one finished) until ``--seconds`` have
passed (at least one pass). Every operation's output is checked
against its oracle; a raise or a wrong output counts as a failed
operation.

With ``--trace 0`` the last line carries the end-to-end metrics and
nothing of the tracer is loaded: no event log, no wrappers. With
``--trace 1`` the run alternates untraced passes with passes in which
the layer functions are wrapped (see tracing.py), and the last line
carries the per-layer metrics, read from the spans and from Spark's
event log.

The run reads and writes only under this directory (inputs, oracle
cache, Spark scratch and event logs) and stops the Spark JVM before it
exits. It exits non-zero without a result when it cannot run, for
example when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, ".data")
OUT_DIR = os.path.join(HERE, ".out")
CORES = 4
DRIVER_MEMORY = "2g"
# the end-to-end metrics, as (name, unit), printed by every untraced run
END_TO_END = (("setup_s", "s"), ("pass_s", "s"))


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _scratch_env(scratch: str) -> dict[str, str]:
    """Keep every temporary file of Python, Spark and the JVM inside the
    checkout."""
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    # every JVM spark-submit starts: temp files here, and no perf-data
    # file (HotSpot writes it to /tmp whatever java.io.tmpdir says)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = scratch
    return {
        "spark.local.dir": scratch,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }


def start_session(conf: dict[str, str]):
    from graphragdatapipeline_spark.session import get_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        **conf,
    }
    spark = get_session(
        "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


class Runner:
    """Runs passes over one workload's queries and keeps their walls."""

    def __init__(self, spark, queries, data_dir, oracles, tally):
        from graphragdatapipeline_spark.registry import REGISTRY

        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.oracles = oracles
        self.tally = tally
        self.tracer = None  # set to a Tracer for traced passes
        self.registry = REGISTRY
        self.windows: list[tuple[float, float]] = []  # epoch seconds per pass

    def one_pass(self, walls: dict[str, list[float]] | None = None) -> float:
        from workloads import check, run_query

        total = 0.0
        t_start = time.time()
        for name in self.queries:
            def op(name=name):
                if self.tracer is None:
                    return run_query(self.spark, self.registry, name, self.data_dir)
                # the span covers the query only; the output check runs
                # after it closes
                with self.tracer.span(f"q.{name}", "query"):
                    return run_query(self.spark, self.registry, name, self.data_dir)

            def chk(table, name=name):
                check(self.oracles, self.registry, name, table)

            wall, _ok = self.tally.run(op, chk)
            total += wall
            if walls is not None:
                walls.setdefault(name, []).append(wall)
        self.windows.append((t_start, time.time()))
        return total

    def passes(self, seconds: float, walls: dict[str, list[float]]) -> list[float]:
        """Closed loop: whole passes until ``seconds`` have elapsed, at
        least one."""
        out = []
        t_end = time.perf_counter() + seconds
        while not out or time.perf_counter() < t_end:
            out.append(self.one_pass(walls))
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import graphragdatapipeline_spark.registry  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    import gen
    from oracle import OracleCache
    from stats import Tally, median
    from workloads import ALL_QUERIES, WORKLOADS

    queries = WORKLOADS[args.workload]
    conf = _scratch_env(os.path.join(run_dir, "tmp"))

    data_dir = gen.ensure_inputs(CACHE_DIR, args.seed)
    oracles = OracleCache(data_dir)
    from graphragdatapipeline_spark.registry import REGISTRY

    for name in queries:  # untimed: fill the oracle cache before Spark starts
        oracles.expected(name, REGISTRY[name].oracle)
    oracles.close()

    tracer = None
    if args.trace:
        import tracing as tr

        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(tr.event_log_conf(log_dir))

    tally = Tally()
    t0 = time.perf_counter()
    spark = start_session(conf)
    start_s = time.perf_counter() - t0
    try:
        runner = Runner(spark, queries, data_dir, oracles, tally)
        warmup_s = runner.one_pass()
        setup_s = time.perf_counter() - t0

        walls: dict[str, list[float]] = {}
        if not args.trace:
            pass_walls = runner.passes(args.seconds, walls)
        else:
            # untraced (U) and traced (T) passes in UTTU blocks, so JIT
            # warm-up and host drift fall on both halves alike
            tracer = tr.Tracer()
            tracer.install(spark.sparkContext)
            pass_walls, traced_pass_walls, untraced_windows = [], [], []
            t_end = time.perf_counter() + 2 * args.seconds
            from storage import StoragePoller

            storage = StoragePoller(
                spark.sparkContext, lambda: tracer.open_in_layer("graph.algorithms")
            )
            try:
                with storage:
                    while not traced_pass_walls or time.perf_counter() < t_end:
                        for traced in (False, True, True, False):
                            if traced:
                                tracer.enable()
                                runner.tracer = tracer
                                traced_pass_walls.append(runner.one_pass())
                                runner.tracer = None
                                tracer.disable()
                            else:
                                pass_walls.append(runner.one_pass(walls))
                                untraced_windows.append(runner.windows[-1])
            finally:
                tracer.uninstall()
            app_id = spark.sparkContext.applicationId
    finally:
        stop_session(spark)

    pass_s = median(pass_walls)
    print(
        f"workload {args.workload} seed {args.seed}: warm-up {warmup_s:.3f} s,"
        f" timed passes " + " ".join(f"{w:.3f}" for w in pass_walls)
    )
    for name in queries:
        print(f"  {name}_s {median(walls[name]):.4f} s (median of {len(walls[name])})")
    print(f"  ops_failed_frac {tally.failed_frac:.4f} ({tally.failed}/{tally.attempted})")
    for err in tally.errors[:5]:
        print(err, file=sys.stderr)

    if args.trace:
        tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
        jobs, stages = tr.read_event_log(log_dir, app_id)
        metrics = tr.per_layer_metrics(
            tracer=tracer,
            jobs=jobs,
            stages=stages,
            all_queries=ALL_QUERIES,
            untraced_pass_s=pass_s,
            traced_pass_s=median(traced_pass_walls),
            untraced_windows=untraced_windows,
            start_s=start_s,
            warmup_s=warmup_s,
            storage=storage,
            cores=CORES,
            failed_frac=tally.failed_frac,
        )
    else:
        values = {"setup_s": setup_s, "pass_s": pass_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
