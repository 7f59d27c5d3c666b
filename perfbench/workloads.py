"""The two workloads: the reference metrics flow and concurrent corpus
serving, both driven through the real HTTP tier (``serve.serve``).

A workload has three parts:

* ``build()`` — the set-up: fresh stores/indexes in a new temp
  directory, the services over them, a server, and a warm-up pass
  through every route it will time.
* ``clients()`` — one op iterator per closed-loop client; each op is an
  HTTP request tagged with its op id (``X-Request-ID``).  A run times at
  least ``min_ops`` ops, enough for a median (``runtime.p50``), and every
  run stops at about the same point of the JVM's warm-up; a p90 would
  need 100 ops, which would not fit the run budget, so runs report none.
* ``check(samples)`` — output checks; returns the failed op ids plus
  named failures of whole-run checks.
"""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

from perfbench import corpus as corpus_gen
from perfbench import upstream as up
from tools import gen_testdata

SECRET = "perfbench-sink-secret"


@dataclass
class Op:
    """One request: ``kind`` groups ops for the per-route figures."""

    kind: str
    method: str
    path: str
    body: dict | None = None
    #: state captured when the op was issued (what the check compares to)
    ctx: dict = field(default_factory=dict)


@dataclass
class Sample:
    op_id: str
    kind: str
    start: float
    end: float
    status: int
    response: dict | None
    response_bytes: int
    op: Op

    @property
    def ctx(self) -> dict:
        return self.op.ctx

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


def http(base: str, op: Op, op_id: str) -> tuple[int, dict | None, int]:
    """(status, JSON body, body bytes); status 0 when no answer came."""
    data = None if op.body is None else json.dumps(op.body).encode()
    req = urllib.request.Request(base + op.path, data=data, method=op.method)
    req.add_header("X-Request-ID", op_id)
    if data is not None:
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req, timeout=170) as r:
            raw = r.read()
            return r.status, json.loads(raw), len(raw)
    except urllib.error.HTTPError as exc:
        raw = exc.read()
        return exc.code, None, len(raw)
    except OSError:  # refused, reset or timed out: a failed op
        return 0, None, 0


def _tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path`` (hidden/_ files excluded, as
    Spark's parquet reader excludes them)."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class MetricsFlow:
    """The reference's own purpose: ingest → query → signed export.

    One closed-loop client repeats a fixed cycle: POST /ingest/run (the
    mock serves the next 7-day batch, sliding one day), two
    /metrics/channel pages at seeded offsets, one /metrics/funnel and one
    /export/run of a seeded day to the signing sink.  Whole cycles run,
    so every run has the same op mix."""

    name = "metrics_flow"
    n_clients = 1
    min_ops = 15  # three cycles (see runtime.MEDIAN_MIN_TAIL)
    ADS_ROWS, CRM_ROWS = 5000, 1250
    PAGE = 20

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.gen = up.PayloadGenerator(ctx.seed, self.ADS_ROWS, self.CRM_ROWS)
        self.upstream = up.Upstream(self.gen, SECRET)
        self.server = None
        self.batch = 0
        self.ingested: list[int] = []  # batches the store holds, in order

    # -- set-up ---------------------------------------------------------
    def build(self) -> None:
        from admira_etl_project_prueba_spark.config import Config
        from admira_etl_project_prueba_spark.service import MetricsService

        self.store_path = os.path.join(self.ctx.fresh_dir("store"), "metrics")
        cfg = Config(
            ads_api_url=self.upstream.base + "/ads",
            crm_api_url=self.upstream.base + "/crm",
            sink_url=self.upstream.base + "/sink",
            sink_secret=SECRET,
            timeout_seconds=60.0,
            max_retries=3,
            backoff_ms=50,
            store_path=self.store_path,
        )
        self.server = self.ctx.serve(MetricsService(self.ctx.spark, cfg), None)
        # warm-up: one cycle through every timed route, run like the
        # timed ones (a second warm cycle did not flatten the JVM's
        # warm-up curve: the first timed cycle stayed ~8% slower)
        with self.ctx.phase("warm"):
            for op in self._cycle():
                self.ctx.warm(self.server, op)

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        self.upstream.close()

    # -- the op cycle ---------------------------------------------------
    def _cycle(self):
        b = self.batch
        self.batch += 1
        lo, hi = up.day(b), up.day(b + up.WINDOW_DAYS - 1)
        self.upstream.set_batch(b)
        yield Op("ingest", "POST", f"/ingest/run?since={up.day(0)}", ctx={"batch": b})
        self.ingested.append(b)
        n_ing = len(self.ingested)
        for _ in range(2):
            src = up.SOURCES[self.rng.integers(len(up.SOURCES))]
            med = up.MEDIUMS[self.rng.integers(len(up.MEDIUMS))]
            ch = up.channel_of(src, med)
            off = int(self.rng.integers(0, 3 * self.PAGE))
            yield Op(
                "query",
                "GET",
                f"/metrics/channel?channel={ch}&from={lo}&to={hi}"
                f"&limit={self.PAGE}&offset={off}",
                ctx={"offset": off, "route": "channel"},
            )
        camp = up.CAMPAIGNS[self.rng.integers(len(up.CAMPAIGNS))]
        yield Op(
            "query",
            "GET",
            f"/metrics/funnel?utm_campaign={camp}&from={lo}&to={hi}",
            ctx={"route": "funnel", "campaign": camp, "from": lo, "to": hi, "n_ingested": n_ing},
        )
        d = up.day(b + int(self.rng.integers(up.WINDOW_DAYS)))
        yield Op("export", "POST", f"/export/run?date={d}", ctx={"date": d, "n_ingested": n_ing})

    def clients(self):
        def client():
            while True:
                yield from self._cycle()
                yield None  # cycle boundary: the runner may stop here

        return [client()]

    # -- output checks --------------------------------------------------
    def _expected_after(self, n_ingested: int):
        """Expected store after the first ``n_ingested`` ingests."""
        g = up.PayloadGenerator(self.ctx.seed, self.ADS_ROWS, self.CRM_ROWS)
        for b in self.ingested[:n_ingested]:
            g.record_ingested(b)
        return g

    def check(self, samples: list[Sample]) -> tuple[list[str], list[str]]:
        bad_ops: list[str] = []
        cache: dict[int, up.PayloadGenerator] = {}

        def expected(n):
            if n not in cache:
                cache[n] = self._expected_after(n)
            return cache[n]

        for s in samples:
            msg = None
            r = s.response
            if s.status != 200 or r is None:
                msg = f"status {s.status}"
            elif s.kind == "ingest":
                if not r.get("metrics_processed"):
                    msg = "ingest processed no rows"
            elif s.ctx.get("route") == "channel":
                total = r["pagination"]["total"]
                want = max(0, min(self.PAGE, total - s.ctx["offset"]))
                if len(r["data"]) != want:
                    msg = f"channel page has {len(r['data'])} rows, want {want}"
            elif s.ctx.get("route") == "funnel":
                exp = expected(s.ctx["n_ingested"]).totals(
                    s.ctx["from"], s.ctx["to"], s.ctx["campaign"]
                )
                msg = _compare(exp, r["data"], "funnel")
            elif s.kind == "export":
                exp = expected(s.ctx["n_ingested"]).totals(s.ctx["date"], s.ctx["date"])
                if r.get("status") != "exported":
                    msg = f"export status {r.get('status')}"
                elif not any(b == r["payload"] for b in self.upstream.exports):
                    msg = "the sink never received this export's payload"
                else:
                    msg = _compare(exp, r["payload"]["metrics"], "export")
            if msg:
                bad_ops.append(f"{s.op_id}: {msg}")
        run_failures = []
        if self.upstream.bad_signatures:
            run_failures.append(f"{self.upstream.bad_signatures} exports with a bad signature")
        run_failures += self._check_store()
        return bad_ops, run_failures

    def _check_store(self) -> list[str]:
        """Store totals equal the payload sums; a full pagination walk
        returns ``pagination.total`` distinct keys."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        spark.sparkContext.setJobGroup("check", "output checks", False)
        fails = []
        row = (
            spark.read.parquet(self.store_path)
            .agg(*[F.sum(m).alias(m) for m in up.MEASURES])
            .collect()[0]
        )
        msg = _compare(self._expected_after(len(self.ingested)).totals(), [row.asDict()], "store")
        if msg:
            fails.append(msg)
        ch = up.channel_of("google", "cpc")
        lo = hi = up.day(self.batch - 1)
        keys, offset, total = set(), 0, None
        while total is None or offset < total:
            st, r, _ = http(
                self.ctx.base(self.server),
                Op("walk", "GET", f"/metrics/channel?channel={ch}&from={lo}&to={hi}&limit=50&offset={offset}"),
                f"check-walk-{offset}",
            )
            if st != 200:
                fails.append(f"pagination walk status {st}")
                break
            total = r["pagination"]["total"]
            keys.update(
                tuple(d[k] for k in ("date", "channel", "campaign_id", "utm_campaign", "utm_source", "utm_medium"))
                for d in r["data"]
            )
            offset += 50
            if not r["data"]:
                break
        if total is not None and len(keys) != total:
            fails.append(f"pagination walk found {len(keys)} keys, total says {total}")
        return fails

    # -- per-layer extras -------------------------------------------------
    def layer_extras(self) -> dict:
        files, size = _tree_bytes(self.store_path)
        return {"store.files": files, "store.space_bytes": size}


def _compare(exp: dict, rows: list[dict], what: str) -> str | None:
    got = {m: sum(Decimal(repr(r[m] or 0)) for r in rows) for m in up.MEASURES}
    for m in up.MEASURES:
        e, g = exp[m], got[m]
        # money comes back as a double: allow its rounding, nothing more
        if abs(e - g) > Decimal("1e-9") * abs(e) + Decimal("1e-6"):
            return f"{what} {m}: got {g}, want {e}"
    return None


class CorpusServing:
    """Read-only corpus serving under three closed-loop clients.

    Each client repeats a 10-op pattern (4 GET /corpus/similar?vec_id=
    over the IVF index, 3 POST /corpus/similar with a seeded query_vec
    in pq mode, 3 GET /corpus/search bm25 with seeded corpus terms),
    each client one op further into it, so the three routes run side by
    side rather than in lockstep."""

    name = "corpus_serving"
    n_clients = 3
    min_ops = 30  # ten per client: the median has fifteen samples beyond it
    N_DOCS, N_VECS = 5000, 2000  # the sf0.1 documents/embeddings sizes
    PATTERN = "GPSGPSGPSG"

    def __init__(self, ctx):
        self.ctx = ctx
        self.data_dir = ctx.fresh_dir("corpus")
        self.paths = corpus_gen.write_corpus(self.data_dir, ctx.seed, self.N_DOCS, self.N_VECS)
        self.server = None

    def build(self) -> None:
        from admira_etl_project_prueba_spark.corpus_service import CorpusService
        from admira_etl_project_prueba_spark.operators import similarity, textops

        spark = self.ctx.spark
        d = self.ctx.fresh_dir("index")
        docs = spark.read.parquet(self.paths["documents"])
        emb = spark.read.parquet(self.paths["embeddings"])
        self.ivf, self.pq, self.text = (os.path.join(d, n) for n in ("ivf", "pq", "text"))
        # the three stores are independent: build them side by side (half
        # the set-up time of building them in turn), with the engine's
        # default index shapes; each build has its own job group
        self.ctx.parallel({
            "ivf": lambda: similarity.write_ivf_index(emb, self.ivf),
            "pq": lambda: similarity.write_ivfpq_index(emb, self.pq),
            "text": lambda: textops.write_text_index(docs, self.text),
        })
        svc = CorpusService(
            spark, docs, emb,
            ivf_index_path=self.ivf, pq_index_path=self.pq, text_index_path=self.text,
        )
        self.server = self.ctx.serve(None, svc)
        # warm-up: one request per route, concurrently like the clients
        rng = np.random.default_rng([self.ctx.seed, 100])
        warm = {k: self._op(k, rng) for k in "GPS"}
        self.ctx.parallel(
            {f"warm-{k}": (lambda op=op: self.ctx.warm(self.server, op)) for k, op in warm.items()}
        )

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()

    def _op(self, kind: str, rng) -> Op:
        if kind == "G":
            v = int(rng.integers(self.N_VECS))
            return Op("similar", "GET", f"/corpus/similar?vec_id={v}&k=10", ctx={"form": "get"})
        if kind == "P":
            return Op(
                "similar", "POST", "/corpus/similar",
                body={"query_vec": corpus_gen.query_vector(rng), "k": 10, "mode": "pq"},
                ctx={"form": "post"},
            )
        terms = rng.choice(gen_testdata.VOCAB, size=2, replace=False)
        return Op("search", "GET", f"/corpus/search?q={'+'.join(terms)}&mode=bm25&limit=10")

    def clients(self):
        def client(c: int):
            rng = np.random.default_rng([self.ctx.seed, 10 + c])
            i = c
            while True:
                yield self._op(self.PATTERN[i % len(self.PATTERN)], rng)
                i += 1

        return [client(c) for c in range(self.n_clients)]

    def check(self, samples: list[Sample]) -> tuple[list[str], list[str]]:
        bad = [
            f"{s.op_id}: status {s.status}"
            for s in samples
            if s.status != 200 or s.response is None or not s.response.get("data")
        ]
        # a seeded sample answers identically when replayed serially
        rng = np.random.default_rng([self.ctx.seed, 999])
        fails = []
        by_kind: dict[str, list[Sample]] = {}
        for s in samples:
            if s.status == 200 and s.response is not None:
                by_kind.setdefault(s.kind + s.ctx.get("form", ""), []).append(s)
        for kind, group in sorted(by_kind.items()):
            s = group[int(rng.integers(len(group)))]
            st, r, _ = http(self.ctx.base(self.server), s.op, f"check-replay-{s.op_id}")
            if st != 200 or r is None or r["data"] != s.response["data"]:
                fails.append(f"{s.op_id} ({kind}) answered differently when replayed serially")
        return bad, fails

    def layer_extras(self) -> dict:
        return {
            "ivf_bytes": _tree_bytes(self.ivf)[1],
            "pq_bytes": _tree_bytes(self.pq)[1],
            "documents_bytes": os.path.getsize(self.paths["documents"]),
            "embeddings_bytes": os.path.getsize(self.paths["embeddings"]),
        }


WORKLOADS = {w.name: w for w in (MetricsFlow, CorpusServing)}
