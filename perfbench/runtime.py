"""Runner pieces shared by the plain and the traced run: the session,
the context a workload builds against, and the closed-loop client
driver."""

from __future__ import annotations

import contextlib
import itertools
import os
import resource
import statistics
import subprocess
import sys
import threading
import time

CORES = 4


class Context:
    """What a workload needs from the runner: the session, fresh
    directories, and servers wired through the timing proxy."""

    def __init__(self, seed: int, root: str, work: str, spark, tracer):
        self.seed = seed
        self.root = root
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.phases: dict[str, float] = {}
        self._warm_ids = itertools.count(1)
        self._dirs = 0

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{self._dirs:02d}-{name}")
        os.makedirs(path)
        return path

    def serve(self, svc, corpus):
        from admira_etl_project_prueba_spark import serve
        from perfbench.trace import ServiceProxy

        sc = self.spark.sparkContext
        return serve.serve(
            svc and ServiceProxy(svc, "service", self.tracer, sc),
            port=0,
            corpus=corpus and ServiceProxy(corpus, "corpus_service", self.tracer, sc),
        )

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one named step of the set-up."""
        t0 = time.time()
        try:
            yield
        finally:
            self.phases[name] = time.time() - t0

    def parallel(self, tasks: dict) -> None:
        """Run set-up steps on their own threads, each timed as a phase
        and tagged with its own job group (``<current op>-<name>``), so
        the traced run can tell their Spark work apart; re-raises the
        first failure."""
        label = self.tracer.current_op()
        errors: list[Exception] = []

        def run(name, fn):
            self.spark.sparkContext.setJobGroup(f"{label}-{name}", "set-up", False)
            self.tracer.set_op(label)
            try:
                with self.phase(name):
                    fn()
            except Exception as exc:  # re-raised on the calling thread
                errors.append(exc)

        threads = [threading.Thread(target=run, args=item) for item in tasks.items()]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    @staticmethod
    def base(server) -> str:
        return f"http://127.0.0.1:{server.server_address[1]}"

    def warm(self, server, op) -> None:
        from perfbench.workloads import http

        status, _, _ = http(self.base(server), op, f"setup-warm-{next(self._warm_ids)}")
        if status != 200:
            raise RuntimeError(f"warm-up {op.method} {op.path} answered {status}")


def start_spark(work: str, ui: bool):
    """The one ``local[4]`` session of a run.  A fixed 2 GiB heap keeps
    peak RSS from following the collector's heap-growth decisions; the
    UI (whose REST API feeds the ledger) runs only when tracing."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp)
    from admira_etl_project_prueba_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "50",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData -Xms2g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus the driver JVM (VmHWM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def run_clients(ctx, workload, seconds: float, label, enough) -> list:
    """Closed loop: each client issues its next op as soon as the last
    answered, until ``seconds`` have passed and ``enough(samples)`` holds
    for the ops completed so far (a client whose iterator marks cycle
    boundaries with ``None`` finishes its cycle first).  ``label(n)``
    names a client's n-th op (the op id is ``<label>-c<client>-<n>``)."""
    from perfbench.workloads import Sample, http

    samples: list[Sample] = []
    lock = threading.Lock()
    deadline = time.time() + seconds
    errors: list[Exception] = []

    def done() -> bool:
        with lock:
            return time.time() >= deadline and enough(samples)

    def drive(c: int, ops):
        n = 0
        try:
            base = ctx.base(workload.server)
            cycled = False
            for op in ops:
                if op is None:
                    cycled = True
                    if done():
                        return
                    continue
                if not cycled and done():
                    return
                op_id = f"{label(n)}-c{c}-{n:04d}"
                n += 1
                t0 = time.time()
                status, resp, nbytes = http(base, op, op_id)
                t1 = time.time()
                with lock:
                    samples.append(
                        Sample(op_id, op.kind, t0, t1, status, resp, nbytes, op)
                    )
        except Exception as exc:  # re-raised on the calling thread
            errors.append(exc)

    threads = [
        threading.Thread(target=drive, args=(c, ops), daemon=True)
        for c, ops in enumerate(workload.clients())
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return sorted(samples, key=lambda s: s.start)


def summarize(samples, t_ready: float, setup_s: float, phases: dict) -> None:
    """Human-readable run summary on stderr: set-up steps, then per op
    kind the sample count, median and whichever tail percentiles have
    ten samples beyond them."""
    from perfbench.stats import reportable

    kinds: dict[str, list[float]] = {"all": [s.ms for s in samples]}
    for s in samples:
        kinds.setdefault(s.kind, []).append(s.ms)
    print(f"ready {t_ready:.2f}s; set-up done at {setup_s:.2f}s", file=sys.stderr)
    for name, t in phases.items():
        print(f"  {name:11s} {t:.2f}s", file=sys.stderr)
    print("ops in order: " + " ".join(f"{s.kind[:2]}{s.ms:.0f}" for s in samples),
          file=sys.stderr)
    for k, v in kinds.items():
        tails = " ".join(f"p{p}={x:.1f}" for p, x in reportable(v).items() if p > 50)
        print(f"{k:8s} n={len(v):4d} median {statistics.median(v):9.1f} ms {tails}",
              file=sys.stderr)


#: samples the run-level median needs beyond it.  corpus_serving's 30
#: ops meet ``stats.MIN_TAIL_SAMPLES``; metrics_flow times three whole
#: cycles (15 ops, seven beyond the median), because four cycles per run
#: would not fit the benchmark's run budget.
MEDIAN_MIN_TAIL = 7


def p50(values: list[float]) -> float:
    from perfbench.stats import percentile

    return percentile(values, 50, min_tail=MEDIAN_MIN_TAIL)


def end_to_end(samples, n_clients: int, setup_s: float, rss: float) -> dict:
    lat = [s.ms for s in samples]
    return {
        "setup_s": (setup_s, "s"),
        # Little's law for a closed loop with no think time, so the
        # client's own bookkeeping between ops does not count
        "ops_per_s": (n_clients * len(lat) / (sum(lat) / 1000), "1/s"),
        "op_p50_ms": (p50(lat), "ms"),
        "peak_rss_mb": (rss, "MB"),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
