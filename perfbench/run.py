"""Benchmark launcher: one seeded workload against the public engine API.

Run from the repository root::

    python3 perfbench/run.py --workload ingest_upsert --seed 1 --seconds 20 --trace 0

Workloads (see each module's docstring):

- ``ingest_upsert``  file-ingest upserts + rollup recalculation, with a
                     pgwire reader checking read-your-writes beside them
- ``corpus``         SimHash near-dup pairs and the composed
                     ``corpus_preprocess`` recipe over a generated corpus

The last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  ``failed`` counts every operation that got an error response or a wrong
answer;
``correct`` is false when any answer or the final state was wrong.
``--trace 0`` reports the end-to-end metrics.  ``--trace 1``
runs half a window untraced, then installs span wrappers around the engine's
public functions, runs a full traced window and reports the per-layer
metrics instead (spans are written to ``.perfbench/traces``).  The line before it is a JSON ``detail`` record
(host, sample counts, workload-specific figures).

Host posture, all set here: Spark runs at ``local[nproc]`` with the console
progress bar off; ``PYTHONPATH`` names the repository root so Python workers
import ``yupana_spark`` from any directory; temp files, the Spark warehouse
and local dirs, and the engine's artifact store live in a fresh directory
under ``.perfbench/work`` that is deleted at exit.  Generated inputs are
cached under ``.perfbench/cache``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

DRIVER_MEM = "3g"

# layers whose self time a traced run reports (span name prefixes)
LAYERS = ("server", "sql", "compiler", "catalyst", "spark", "sources",
          "writes", "rollup", "datapipe")
# every traced run reports all of these; a layer a workload does not
# exercise reads 0
PER_LAYER_UNITS = {
    "sql.parse_ms": "ms", "sql.analyze_ms": "ms", "compiler.build_ms": "ms",
    "catalyst.analyze_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms", "server.first_row_ms": "ms",
    "server.drain_ms": "ms", "server.bytes_sent": "bytes",
    "spark.exec_ms": "ms", "spark.jobs": "count", "spark.tasks": "count",
    "spark.busy_ratio": "ratio", "spark.input_bytes": "bytes",
    "spark.executor_run_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "sources.read_ms": "ms", "writes.upsert_ms": "ms",
    "writes.bytes_written_per_row": "bytes",
    "writes.partitions_rewritten": "count",
    "writes.dirty_partition_ratio": "ratio",
    "writes.stale_read_errors": "count", "rollup.recalc_ms": "ms",
    "rollup.buckets_recomputed": "count", "datapipe.build_ms": "ms",
    "pyworker.bytes_sent": "bytes", "pyworker.rows_received": "count",
    **{f"self.{name}_ms": "ms" for name in LAYERS},
    "trace.overhead_ratio": "ratio", "fixture.gen_s": "s",
    "ops_failed_ratio": "ratio",
}
END_TO_END_UNITS = {"op_p50_ms": "ms", "items_per_s": "1/s", "setup_s": "s",
                    "rss_after_gc_mb": "MB"}


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True,
                    choices=["ingest_upsert", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


class Ctx:
    """Run-wide settings handed to a workload."""

    def __init__(self, work, cache, seed, cores):
        self.work, self.cache = work, cache
        self.seed, self.cores = seed, cores


def _pin_environment(root: str, work: str, cores: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["YUPANA_ARTIFACTS_DIR"] = os.path.join(work, "artifacts")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
             "spark.driver.extraJavaOptions": java}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        + ["pyspark-shell"])


def _start_spark(cores: int):
    from yupana_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def _make_workload(name, ctx):
    if name == "ingest_upsert":
        from ingest import IngestUpsert

        return IngestUpsert(ctx)
    from corpus import Corpus

    return Corpus(ctx)


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "yupana_spark", "__init__.py")):
        print("perfbench: run from the repository root (no yupana_spark "
              "package here)", file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, root]
    from common import median, nproc, peak_rss_mb, rss_after_gc_mb

    cores = nproc()
    load1 = os.getloadavg()[0]       # before this run adds its own load
    state = os.path.join(root, ".perfbench")
    for d in ("work", "cache", "traces"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(state, "work"))
    spark = None
    w = None
    try:
        _pin_environment(root, work, cores)
        ctx = Ctx(work, os.path.join(state, "cache"), args.seed, cores)
        w = _make_workload(args.workload, ctx)
        t_fx = time.time()
        gen_s = w.fixtures()
        # generated inputs are not set-up: their seconds leave setup_s
        fx_wall = time.time() - t_fx

        # setup_s runs from process start (imports, JVM launch, engine,
        # warehouse and server construction, first query, warm-up) to the
        # first timed operation
        spark = _start_spark(cores)
        fx_wall += w.prepare(spark)
        t_warm = time.time()
        w.warmup()
        warm_s = time.time() - t_warm
        setup_s = time.time() - T_START - fx_wall

        tracer = collector = None
        overhead = 0.0
        if args.trace:
            from sparkstats import SparkCollector
            from spans import Tracer

            collector = SparkCollector(spark)
            tracer = Tracer()
            # an untraced half window, then a full traced one: the traced
            # window alone feeds the per-layer metrics, and the ratio of
            # the two windows' latency medians is the tracing overhead
            w.run(args.seconds / 2)
            plain = median(w.latencies_ms())
            tracer.install()
            w.run(args.seconds, tracer, collector)
            overhead = median(w.latencies_ms()) / plain
            layers = w.per_layer(tracer)
            roots = sum(1 for sp in tracer.spans if sp.parent is None)
            self_ms = tracer.layer_self_ms(roots)
            layers.update({f"self.{name}_ms": self_ms.get(name, 0.0)
                           for name in LAYERS})
        else:
            w.run(args.seconds)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        peak_mb = peak_rss_mb(jvm_pid)
        held_mb = rss_after_gc_mb(spark, jvm_pid)
        attempted, failed, wrong, notes = w.verify()

        import pyspark

        detail = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "nproc": cores, "load1": round(load1, 2),
            "noisy_host": load1 > cores, "pyspark": pyspark.__version__,
            "warmup_s": round(warm_s, 3),
            "first_op_after_s": round(t_warm + warm_s - T_START, 3),
            "fixture_gen_s": round(gen_s, 3), **w.details(),
            "peak_rss_mb": round(peak_mb, 1), "failures": notes[:10]}
        if args.trace:
            metrics = layers
            metrics["trace.overhead_ratio"] = overhead
            metrics["fixture.gen_s"] = gen_s
            metrics["ops_failed_ratio"] = failed / attempted
            out = {k: {"value": metrics.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
            tracer.dump(os.path.join(
                state, "traces", f"{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = {**w.end_to_end(), "setup_s": setup_s,
                       "rss_after_gc_mb": held_mb}
            out = {k: {"value": metrics[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
        w.close()
        _stop_jvm(spark)
        spark = None
        print(json.dumps({"detail": detail}), flush=True)
        print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}), flush=True)
        return 0
    finally:
        if spark is not None:
            if w is not None:
                w.close()
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
