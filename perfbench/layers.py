"""The traced run: per-layer metrics from spans and the Spark ledger.

Layers are the engine's modules.  ``TARGETS`` lists the public functions
timed in each; the service objects are timed by the proxy the runner
hands to ``serve.make_handler``; ``serve`` is the client-observed
request around them; ``spark`` is every job of the op (job group = op
id), hung under the innermost span open when the job was submitted.

Every other op of each client is left untraced (``plain-`` op ids: no
spans, job groups still set), so traced and untraced ops interleave
over the same run; their medians give the tracing overhead, and the
per-layer figures come from the traced ops only.  Per-op figures are
medians over the traced ops that touch the layer (0 when none does).
``*.self_ms`` are means per op of each span's duration minus what its
children cover; jobs of one op that run side by side each count, so
the layers can add up to more than the mean op latency.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import time

from perfbench.ledger import Ledger, op_counters
from perfbench.runtime import p50
from perfbench.trace import UNTRACED, Span, covered, innermost, self_times, write_spans

P = "admira_etl_project_prueba_spark"

TARGETS: list[tuple[str, str, str]] = [
    (f"{P}.sources.http", "fetch_many", "sources"),
    (f"{P}.sources.json_source", "ads_from_payload", "sources"),
    (f"{P}.sources.json_source", "crm_from_payload", "sources"),
    (f"{P}.operators.transform", "transform", "operators"),
    (f"{P}.operators.queries", "metrics_by_channel", "operators"),
    (f"{P}.operators.queries", "metrics_by_campaign", "operators"),
    (f"{P}.operators.queries", "paginate", "operators"),
    (f"{P}.operators.queries", "page_info", "operators"),
    (f"{P}.operators.queries", "canonical_sort", "operators"),
    (f"{P}.operators.export", "export_day", "operators"),
    (f"{P}.store", "MetricsStore.store", "store"),
    (f"{P}.store", "MetricsStore.read", "store"),
    (f"{P}.operators.similarity", "write_ivf_index", "similarity"),
    (f"{P}.operators.similarity", "write_ivfpq_index", "similarity"),
    (f"{P}.operators.similarity", "ivf_topk_from_index", "similarity"),
    (f"{P}.operators.similarity", "ivfpq_topk_from_index", "similarity"),
    (f"{P}.operators.similarity", "cosine_topk", "similarity"),
    (f"{P}.operators.textops", "write_text_index", "textops"),
    (f"{P}.operators.textops", "bm25_rank", "textops"),
]

#: modules that call the targets (imported before wrapping)
CALLERS = [f"{P}.service", f"{P}.corpus_service", f"{P}.serve", f"{P}.plans.catalog"]

LAYERS = (
    "serve", "service", "corpus_service", "sources", "operators", "store",
    "catalog", "similarity", "textops", "spark",
)

#: the catalog entries the corpus workload's traced run times (their
#: inputs are the workload's own documents/embeddings tables)
CATALOG_ENTRIES = (
    "build_training_corpus",
    "containment_pairs",
    "lsh_recall_report",
    "corpus_health_report",
)


def wrap_catalog(tracer) -> None:
    """Time catalog entry functions as the ``catalog`` layer."""
    from admira_etl_project_prueba_spark.plans.catalog import CATALOG

    for name in CATALOG_ENTRIES:
        entry = CATALOG[name]
        fn = entry.fn
        entry.fn = lambda spark, sf, _fn=fn, _n=name: tracer.call(
            f"catalog.{_n}", "catalog", _fn, spark, sf
        )


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def run_catalog(ctx, data_dir: str) -> list[dict]:
    """Construct each entry's frame, then run it into the noop sink;
    jobs are attributed by job group ``catalog-<entry>``."""
    from admira_etl_project_prueba_spark.plans.catalog import CATALOG

    out = []
    sc = ctx.spark.sparkContext
    for name in CATALOG_ENTRIES:
        op = f"catalog-{name}"
        ctx.tracer.set_op(op)
        sc.setJobGroup(op + "-construct", name, False)
        t0 = time.time()
        df = CATALOG[name].fn(ctx.spark, data_dir)
        t1 = time.time()
        sc.setJobGroup(op + "-action", name, False)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        ctx.tracer.set_op(None)
        out.append({"entry": name, "op": op, "start": t0, "constructed": t1, "end": t2})
    return out


def traced_run(ctx, workload, args, setup_s: float) -> dict:
    from perfbench.runtime import peak_rss_mb, run_clients

    tracer = ctx.tracer
    up = getattr(workload, "upstream", None)
    fetch0 = (up.fetches, up.payload_bytes) if up else (0, 0)
    tracer.enabled = True

    def enough(done) -> bool:
        n_plain = sum(1 for s in done if s.op_id.startswith(UNTRACED))
        return min(n_plain, len(done) - n_plain) >= workload.min_ops

    samples = run_clients(
        ctx, workload, args.seconds, lambda n: UNTRACED[:-1] if n % 2 else "op", enough
    )
    plain = [s for s in samples if s.op_id.startswith(UNTRACED)]
    traced = [s for s in samples if not s.op_id.startswith(UNTRACED)]
    data_dir = getattr(workload, "data_dir", None)  # the corpus tables
    catalog = run_catalog(ctx, data_dir) if data_dir else []
    tracer.enabled = False
    bad, fails = workload.check(plain + traced)
    jobs, stages = Ledger(ctx.spark).collect()
    fetched = (
        (up.fetches - fetch0[0], up.payload_bytes - fetch0[1]) if up else (0, 0)
    )
    metrics, report, trees = per_layer(
        tracer.spans, traced, plain, jobs, stages, catalog, workload, fetched
    )
    report["peak_rss_mb"] = peak_rss_mb(ctx.spark)
    out_dir = os.path.join(ctx.root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload.name}-seed{args.seed}")
    write_spans(
        stem + "-spans.jsonl",
        [s for s in tracer.spans if (s.op or "").startswith("setup")]
        + [s for tree in trees.values() for s in tree],
    )
    report["setup_s"] = setup_s
    report["setup_phases_s"] = ctx.phases
    report["check_failures"] = bad + fails
    with open(stem + "-trace.json", "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    return {
        "correct": not bad and not fails,
        "attempted": len(plain) + len(traced),
        "failed": len(bad),
        "metrics": {
            k: {"value": v, "unit": UNITS[k]} for k, v in sorted(metrics.items())
        },
    }


def per_layer(spans, traced, plain, jobs, stages, catalog, workload, fetched):
    by_op: dict[str, list[Span]] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    jobs_by_group: dict[str, list[dict]] = {}
    for j in jobs:
        jobs_by_group.setdefault(j.get("jobGroup"), []).append(j)

    # one span tree per traced op: client request -> service -> ... -> jobs
    trees: dict[str, list[Span]] = {}
    counters: dict[str, dict] = {}
    ids = iter(range(10**9, 2 * 10**9))
    for smp in traced:
        root = Span(next(ids), "serve.request", "serve", smp.start, smp.end, None, smp.op_id)
        tree = [root]
        for s in by_op.get(smp.op_id, []):
            tree.append(s if s.parent is not None else dataclasses.replace(s, parent=root.id))
        op_jobs = jobs_by_group.get(smp.op_id, [])
        for j in op_jobs:
            if j["t0"] is None or j["t1"] is None:
                continue
            host = innermost(tree, j["t0"]) or root
            tree.append(Span(next(ids), f"spark.job{j['jobId']}", "spark",
                             j["t0"], j["t1"], host.id, smp.op_id))
        trees[smp.op_id] = tree
        counters[smp.op_id] = op_counters(op_jobs, stages)

    n = max(1, len(traced))
    self_ms = {layer: 0.0 for layer in LAYERS}
    for tree in trees.values():
        st = self_times(tree)
        for s in tree:
            self_ms[s.layer] = self_ms.get(s.layer, 0.0) + st[s.id] * 1000
    m: dict[str, float] = {f"{k}.self_ms": v / n for k, v in self_ms.items()}
    # catalog entries are not requests: their trees hang off the entry span
    cat_self = 0.0
    for e in catalog:
        tree = list(by_op.get(e["op"], []))
        for j in jobs_by_group.get(e["op"] + "-construct", []):
            host = innermost(tree, j["t0"])
            if host is not None and j["t1"] is not None:
                tree.append(Span(next(ids), "spark.job", "spark", j["t0"], j["t1"], host.id, e["op"]))
        st = self_times(tree)
        cat_self += 1000 * sum(st[s.id] for s in tree if s.layer == "catalog")
    m["catalog.self_ms"] = cat_self / len(catalog) if catalog else 0.0

    def layer_ms(op_id, pred) -> float:
        iv = [(s.start, s.end) for s in trees[op_id] if pred(s)]
        return covered(iv, float("-inf"), float("inf")) * 1000

    def med_over(samples, pred):
        return _med(layer_ms(s.op_id, pred) for s in samples)

    def named(*names):
        return lambda s: s.name in names

    kinds = {k: [s for s in traced if s.kind == k] for k in ("ingest", "query", "export", "similar", "search")}
    ing, qry = kinds["ingest"], kinds["query"]
    # upstream counters cover every ingest of the run, traced or not; an
    # ingest fetches the two APIs once each (fetch_many runs them on pool
    # threads, outside the op's spans)
    n_ingests = sum(1 for s in traced + plain if s.kind == "ingest")
    per_ingest = fetched[1] / n_ingests if n_ingests else 0.0
    m["sources.fetch_ms"] = med_over(ing, named("sources.fetch_many"))
    m["sources.decode_ms"] = med_over(
        ing, named("sources.ads_from_payload", "sources.crm_from_payload")
    )
    m["sources.payload_bytes"] = per_ingest
    m["sources.fetch_attempts_per_call"] = fetched[0] / (2 * n_ingests) if n_ingests else 0.0
    m["operators.transform_ms"] = med_over(ing, named("operators.transform"))
    m["store.write_ms"] = med_over(ing, named("store.MetricsStore.store"))
    written = sum(counters[s.op_id]["output_bytes"] for s in ing)
    m["store.bytes_written_per_payload_byte"] = (
        written / (per_ingest * len(ing)) if ing and per_ingest else 0.0
    )
    m["store.read_ms"] = med_over(qry, named("store.MetricsStore.read"))
    m["operators.query_ms"] = med_over(qry, lambda s: s.layer == "operators")
    returned = sum(len((s.response or {}).get("data") or []) for s in qry)
    examined = sum(counters[s.op_id]["input_records"] for s in qry)
    m["operators.rows_examined_per_row_returned"] = examined / returned if returned else 0.0
    m["operators.export_ms"] = med_over(kinds["export"], named("operators.export_day"))
    m["serve.response_bytes"] = sum(s.response_bytes for s in traced) / n

    # the index builds run side by side in set-up, so wall time would mix
    # them: each counts its own job group's executor CPU time
    def build_cpu_ms(*names):
        return op_counters(
            [j for n in names for j in jobs_by_group.get(f"setup-{n}", [])], stages
        )["executor_cpu_ms"]

    m["similarity.index_build_ms"] = build_cpu_ms("ivf", "pq")
    m["textops.index_build_ms"] = build_cpu_ms("text")
    sim, srch = kinds["similar"], kinds["search"]
    m["similarity.probe_ms"] = med_over(sim, lambda s: s.layer == "similarity")
    m["textops.search_ms"] = med_over(srch, lambda s: s.layer == "textops")
    extras = workload.layer_extras()
    m["store.files"] = extras.get("store.files", 0)
    m["store.space_bytes"] = extras.get("store.space_bytes", 0)
    m["similarity.index_fraction_read"] = _med(
        counters[s.op_id]["input_bytes"]
        / (extras["ivf_bytes" if s.ctx.get("form") == "get" else "pq_bytes"]
           + extras["embeddings_bytes"])
        for s in sim
    )
    m["textops.index_fraction_read"] = _med(
        counters[s.op_id]["input_bytes"] / extras["documents_bytes"] for s in srch
    )

    c = list(counters.values())
    m["spark.jobs"] = _med(x["jobs"] for x in c)
    m["spark.stages"] = _med(x["stages"] for x in c)
    m["spark.tasks"] = _med(x["tasks"] for x in c)
    total_stages = sum(x["stages"] for x in c)
    m["spark.tasks_per_stage"] = sum(x["tasks"] for x in c) / total_stages if total_stages else 0.0
    for k in ("executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "input_bytes"):
        m[f"spark.{k}"] = _med(x[k] for x in c)
    m["spark.gc_ms"] = sum(x["gc_ms"] for x in c) / n
    m["spark.stage_queue_ms"] = _med(q for x in c for q in x["stage_queue_ms"])
    m["spark.driver_gap_ms"] = _med(
        s.ms - layer_ms(s.op_id, lambda x: x.layer == "spark") for s in traced
    )
    m["serve.overhead_ms"] = _med(
        s.ms - layer_ms(s.op_id, lambda x: x.layer in ("service", "corpus_service"))
        for s in traced
    )
    unattributed = [j for j in jobs if not j.get("jobGroup") or j["jobGroup"] == "untagged"]
    m["spark.unattributed_jobs"] = len(unattributed)

    # catalog entries: construction (eager jobs) vs the final action
    cat_rows = []
    for e in catalog:
        cj = jobs_by_group.get(e["op"] + "-construct", [])
        aj = jobs_by_group.get(e["op"] + "-action", [])
        cat_rows.append({
            "entry": e["entry"],
            "construct_ms": (e["constructed"] - e["start"]) * 1000,
            "construct_jobs": len(cj),
            "action_ms": (e["end"] - e["constructed"]) * 1000,
            "jobs": len(cj) + len(aj),
        })
    m["operators.construct_ms"] = _med(r["construct_ms"] for r in cat_rows)
    m["operators.construct_jobs"] = _med(r["construct_jobs"] for r in cat_rows)
    m["operators.action_ms"] = _med(r["action_ms"] for r in cat_rows)
    for name in CATALOG_ENTRIES:
        row = next((r for r in cat_rows if r["entry"] == name), None)
        m[f"catalog.{name}.ms"] = row["construct_ms"] + row["action_ms"] if row else 0.0
        m[f"catalog.{name}.jobs"] = row["jobs"] if row else 0

    untraced_p50 = p50([s.ms for s in plain])
    traced_p50 = p50([s.ms for s in traced])
    m["trace.untraced_op_p50_ms"] = untraced_p50
    m["trace.traced_op_p50_ms"] = traced_p50
    m["trace.overhead_pct"] = 100 * (traced_p50 / untraced_p50 - 1) if untraced_p50 else 0.0

    report = {
        "self_ms_per_op": {k: m[f"{k}.self_ms"] for k in LAYERS},
        "op_latency_mean_ms": sum(s.ms for s in traced) / n,
        "tracing_overhead": {
            "untraced_op_p50_ms": untraced_p50,
            "traced_op_p50_ms": traced_p50,
        },
        "unattributed_jobs": [
            {"jobId": j["jobId"], "name": j.get("name"), "submitted": j.get("submissionTime")}
            for j in unattributed
        ],
        "catalog": cat_rows,
        "ops": [
            {"op": s.op_id, "kind": s.kind, "ms": s.ms, **{
                k: v for k, v in counters[s.op_id].items() if k != "stage_queue_ms"
            }}
            for s in traced
        ],
    }
    return m, report, trees


def _load_units() -> dict[str, str]:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


UNITS = _load_units()
