"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus, stats, upstream  # noqa: E402
from perfbench.trace import Span, covered, innermost, self_times  # noqa: E402


def _payloads(seed: int) -> bytes:
    g = upstream.PayloadGenerator(seed, ads_rows=300, crm_rows=80)
    return b"".join(g.ads_payload(b) + g.crm_payload(b) for b in range(3))


def test_payload_generator_is_a_function_of_the_seed():
    assert _payloads(7) == _payloads(7)
    assert _payloads(7) != _payloads(8)


def test_corpus_generator_is_a_function_of_the_seed(tmp_path):
    def files(seed, sub):
        paths = corpus.write_corpus(str(tmp_path / sub), seed, n_docs=50, n_vecs=40)
        return [open(paths[k], "rb").read() for k in ("documents", "embeddings")]

    assert files(3, "a") == files(3, "b")
    assert files(3, "a") != files(4, "c")


def test_expected_totals_follow_the_sliding_window():
    g = upstream.PayloadGenerator(1, ads_rows=200, crm_rows=60)
    g.record_ingested(0)
    g.record_ingested(1)
    clicks = sum(r["clicks"] for b in (0, 1) for r in g.ads_rows_for(b))
    assert g.totals()["clicks"] == clicks
    # day 0 is only in batch 0's window
    day0 = sum(r["clicks"] for r in g.ads_rows_for(0) if r["date"] == upstream.day(0))
    assert g.totals(upstream.day(0), upstream.day(0))["clicks"] == day0


def test_sink_signature_round_trip():
    body = b'{"date":"2024-03-01"}'
    assert upstream.sign("k", body) == upstream.sign("k", body)
    assert upstream.sign("k", body) != upstream.sign("other", body)


@pytest.mark.parametrize(
    "p, enough", [(50, 20), (90, 100), (99, 1000)]
)
def test_percentile_needs_ten_samples_beyond_it(p, enough):
    values = [float(i) for i in range(enough)]
    assert stats.percentile(values, p) == values[enough - stats.MIN_TAIL_SAMPLES - 1]
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(values[:-1], p)


def test_percentile_with_a_shorter_tail():
    values = [float(i) for i in range(10)]
    assert stats.percentile(values, 50, min_tail=5) == 4.0
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(values[:-1], 50, min_tail=5)


def test_percentile_is_order_free():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
    assert stats.percentile(values, 50) == stats.percentile(sorted(values), 50) == 3.0


def test_self_time_on_a_synthetic_tree():
    #   root 0..10
    #   ├── a 1..4          (overlaps b: their union 1..6 counts once)
    #   │   └── a1 2..3
    #   └── b 3..6
    #       └── job 3.5..9  (runs past its parent: clipped to 3.5..6)
    spans = [
        Span(1, "root", "serve", 0.0, 10.0, None, "op"),
        Span(2, "a", "service", 1.0, 4.0, 1, "op"),
        Span(3, "a1", "operators", 2.0, 3.0, 2, "op"),
        Span(4, "b", "store", 3.0, 6.0, 1, "op"),
        Span(5, "job", "spark", 3.5, 9.0, 4, "op"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 5.0, 2: 2.0, 3: 1.0, 4: 0.5, 5: 5.5})
    assert innermost(spans, 2.5).name == "a1"
    assert innermost(spans, 5.0).name == "job"
    assert innermost(spans, 11.0) is None


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert covered([], 0, 1) == 0


def test_benchmark_json_matches_the_layer_map():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        layer_map = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == list(layer_map["metrics"])
    assert {w["name"] for w in bench["workloads"]} == set(layer_map["workloads"])
    e2e = {m["name"] for m in bench["end_to_end"]}
    for name, m in layer_map["metrics"].items():
        assert set(m["moves"]) <= e2e, name
