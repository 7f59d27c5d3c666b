"""Route-level benchmark of the engine's HTTP tier.

    python3 perfbench/run.py --workload metrics_flow --seed 1 --seconds 30 --trace 0

Run from the repository root.  It starts one ``local[4]`` SparkSession,
serves ``MetricsService``/``CorpusService`` through ``serve.serve()`` on
a loopback port, drives the workload's closed-loop clients for
``--seconds`` seconds, checks every output, and prints one JSON line:

* ``--trace 0``: the end-to-end metrics (set-up time, throughput, median
  latency, peak RSS);
* ``--trace 1``: the per-layer metrics (see ``perfbench/layers.json``),
  from spans recorded around the engine's public functions plus the
  Spark jobs/stages of each op (job group = op id) read from the
  driver's UI REST API.  The span file and a report with per-layer self
  times go to ``.perfbench_out/``.

All stores, indexes, Spark scratch and temp files live in a fresh
directory under ``.perfbench_work/`` that is removed at exit.  Exit code
1 if any output check fails (the JSON line still says what failed).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PACKAGE = "admira_etl_project_prueba_spark"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import admira_etl_project_prueba_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine ({exc}); run from the repository root",
              file=sys.stderr)
        return 2
    from perfbench import runtime
    from perfbench.trace import Tracer, install
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    spark = workload = None
    try:
        spark = runtime.start_spark(work, ui=bool(args.trace))
        t_ready = time.time() - T_PROCESS
        tracer = Tracer()
        installed = None
        if args.trace:
            from perfbench import layers

            installed = install(tracer, PACKAGE, layers.TARGETS, layers.CALLERS)
            layers.wrap_catalog(tracer)
        ctx = runtime.Context(args.seed, ROOT, work, spark, tracer)
        workload = WORKLOADS[args.workload](ctx)
        # set-up: stores/indexes, services, server and warm-up pass, timed
        # once (a second pass in the same process would be warm, and
        # would not fit the run-time budget)
        spark.sparkContext.setJobGroup("setup", "set-up", False)
        tracer.set_op("setup")
        tracer.enabled = bool(args.trace)
        t0 = time.time()
        workload.build()
        setup_s = t_ready + time.time() - t0
        tracer.enabled = False
        tracer.set_op(None)
        if args.trace:
            result = layers.traced_run(ctx, workload, args, setup_s)
        else:
            samples = runtime.run_clients(
                ctx, workload, args.seconds, lambda n: "op",
                lambda done: len(done) >= workload.min_ops,
            )
            runtime.summarize(samples, t_ready, setup_s, ctx.phases)
            bad, fails = workload.check(samples)
            metrics = runtime.end_to_end(
                samples, workload.n_clients, setup_s, runtime.peak_rss_mb(spark)
            )
            result = {
                "correct": not bad and not fails,
                "attempted": len(samples),
                "failed": len(bad),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
            for line in bad + fails:
                print(f"check failed: {line}", file=sys.stderr)
        if installed is not None:
            installed.uninstall()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if workload is not None:
            workload.close()
        if spark is not None:
            t_stop = time.time()
            runtime.stop_spark(spark)
            print(f"stopped in {time.time() - t_stop:.2f}s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        _prune(os.path.dirname(work))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _prune(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
