"""Seeded loopback upstream for the metrics flow: the Ads/CRM payload
generator, the mock Ads/CRM API the service ingests from, and the export
sink that verifies ``X-Signature``.

Everything is a pure function of ``seed``: batch ``b`` of a seed covers
the 7-day window starting ``b`` days after ``WINDOW_START``, so each
ingest slides the window one day and re-sends six days the store already
holds (the upsert merge path).  The generator also keeps the expected
store contents, so the workload can check what the engine returns
against sums computed here without Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import hmac
import json
import random
import threading
from collections import defaultdict
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

WINDOW_START = dt.date(2024, 3, 1)
WINDOW_DAYS = 7

CAMPAIGNS = ["back_to_school", "summer_sale", "test_campaign", "black_friday"]
SOURCES = ["google", "facebook", "tiktok", "linkedin", "newsletter"]
MEDIUMS = ["cpc", "social", "email"]
STAGES = ["lead", "opportunity", "closed_won", "prospect"]
# the four accepted created_at layouts the generator rotates through
_CREATED_FORMATS = [
    "%Y-%m-%dT%H:%M:%SZ",
    "%Y-%m-%d %H:%M:%S",
    "%Y/%m/%d %H:%M:%S",
    "%Y-%m-%d",
]
_PAID = {
    "google": "google_ads",
    "facebook": "facebook_ads",
    "tiktok": "tiktok_ads",
    "linkedin": "linkedin_ads",
}

MEASURES = ("clicks", "impressions", "cost", "closed_won", "revenue")


def channel_of(source: str, medium: str) -> str:
    """The engine's channel inference (functions/channels.py)."""
    return _PAID.get(source, f"{source}_{medium}")


def day(i: int) -> str:
    return (WINDOW_START + dt.timedelta(days=i)).isoformat()


def _money(rng: random.Random, hi: int) -> float:
    # two-decimal amounts: repr() gives back the exact two decimals, so
    # Decimal(repr(x)) keeps the expected sums exact
    return rng.randrange(1, hi * 100) / 100


class PayloadGenerator:
    """Ads/CRM envelopes for batch ``b`` of one seed, plus the running
    expected store totals per (date, utm_campaign)."""

    def __init__(self, seed: int, ads_rows: int = 5000, crm_rows: int = 1250):
        self.seed = seed
        self.ads_rows = ads_rows
        self.crm_rows = crm_rows
        # (date, utm_campaign) -> measure -> Decimal, over ingested batches
        self.expected: dict = defaultdict(lambda: defaultdict(Decimal))

    def _rng(self, batch: int, side: str) -> random.Random:
        return random.Random(f"{self.seed}:{batch}:{side}")

    def ads_rows_for(self, batch: int) -> list[dict]:
        rng = self._rng(batch, "ads")
        rows = []
        for _ in range(self.ads_rows):
            src, med = rng.choice(SOURCES), rng.choice(MEDIUMS)
            rows.append(
                {
                    "date": day(batch + rng.randrange(WINDOW_DAYS)),
                    "campaign_id": f"C-{rng.randrange(100, 112)}",
                    "channel": channel_of(src, med),
                    "clicks": rng.randrange(0, 50),
                    "impressions": rng.randrange(0, 1000),
                    "cost": _money(rng, 40),
                    "utm_campaign": rng.choice(CAMPAIGNS),
                    "utm_source": src,
                    "utm_medium": med,
                }
            )
        return rows

    def crm_rows_for(self, batch: int) -> list[dict]:
        rng = self._rng(batch, "crm")
        rows = []
        for i in range(self.crm_rows):
            d = WINDOW_START + dt.timedelta(days=batch + rng.randrange(WINDOW_DAYS))
            ts = dt.datetime(d.year, d.month, d.day, rng.randrange(24), rng.randrange(60))
            rows.append(
                {
                    "opportunity_id": f"O-{batch}-{i}",
                    "contact_email": f"user{rng.randrange(5000)}@example.com",
                    "stage": rng.choice(STAGES),
                    "amount": _money(rng, 500),
                    "created_at": ts.strftime(_CREATED_FORMATS[i % len(_CREATED_FORMATS)]),
                    "utm_campaign": rng.choice(CAMPAIGNS),
                    "utm_source": rng.choice(SOURCES),
                    "utm_medium": rng.choice(MEDIUMS),
                }
            )
        return rows

    def ads_payload(self, batch: int) -> bytes:
        body = {"external": {"ads": {"performance": self.ads_rows_for(batch)}}}
        return json.dumps(body, separators=(",", ":")).encode()

    def crm_payload(self, batch: int) -> bytes:
        body = {"external": {"crm": {"opportunities": self.crm_rows_for(batch)}}}
        return json.dumps(body, separators=(",", ":")).encode()

    def record_ingested(self, batch: int) -> None:
        """Fold batch ``b`` into the expected store (the upsert re-sums
        every measure per key, so the store holds the sum of all
        ingested batches)."""
        for r in self.ads_rows_for(batch):
            e = self.expected[(r["date"], r["utm_campaign"])]
            e["clicks"] += r["clicks"]
            e["impressions"] += r["impressions"]
            e["cost"] += Decimal(repr(r["cost"]))
        for i, r in enumerate(self.crm_rows_for(batch)):
            if r["stage"] != "closed_won":
                continue
            d = batch_created_day(r["created_at"], i)
            e = self.expected[(d, r["utm_campaign"])]
            e["closed_won"] += 1
            e["revenue"] += Decimal(repr(r["amount"]))

    def totals(self, date_from: str = "", date_to: str = "9999", campaign: str | None = None) -> dict:
        out = {m: Decimal(0) for m in MEASURES}
        for (d, c), e in self.expected.items():
            if date_from <= d <= date_to and (campaign is None or c == campaign):
                for m in MEASURES:
                    out[m] += e[m]
        return out


def batch_created_day(created_at: str, i: int) -> str:
    return dt.datetime.strptime(
        created_at, _CREATED_FORMATS[i % len(_CREATED_FORMATS)]
    ).date().isoformat()


def sign(secret: str, body: bytes) -> str:
    return hmac.new(secret.encode(), body, hashlib.sha256).hexdigest()


class Upstream:
    """The mock Ads/CRM API and the signing sink on one loopback server.

    ``GET /ads`` and ``GET /crm`` serve the current batch (set by the
    workload before each ingest); ``POST /sink`` checks the HMAC and
    answers 401 on a bad one."""

    def __init__(self, gen: PayloadGenerator, secret: str):
        self.gen = gen
        self.secret = secret
        self.payloads: dict[str, bytes] = {}
        self.fetches = 0
        self.payload_bytes = 0
        self.exports: list[dict] = []
        self.bad_signatures = 0
        self._lock = threading.Lock()
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), self._handler())
        self.server.daemon_threads = True
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    @property
    def base(self) -> str:
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    def set_batch(self, batch: int) -> None:
        """Serve batch ``batch`` from now on (payloads built up front so
        the fetch measures transfer, not generation)."""
        self.payloads = {"ads": self.gen.ads_payload(batch), "crm": self.gen.crm_payload(batch)}

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join()

    def _handler(self):
        up = self

        class H(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):
                pass

            def _reply(self, code: int, body: bytes) -> None:
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                body = up.payloads.get(self.path.strip("/"))
                if body is None:
                    return self._reply(404, b"{}")
                with up._lock:
                    up.fetches += 1
                    up.payload_bytes += len(body)
                self._reply(200, body)

            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n)
                got = self.headers.get("X-Signature", "")
                if not hmac.compare_digest(got, sign(up.secret, raw)):
                    with up._lock:
                        up.bad_signatures += 1
                    return self._reply(401, b'{"error":"bad signature"}')
                with up._lock:
                    up.exports.append(json.loads(raw))
                self._reply(200, b'{"status":"ok"}')

        return H
