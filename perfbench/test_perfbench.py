"""Unit tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from harness import Span, covered, exact_topk, latency_summary, percentile, round6, self_times  # noqa: E402
from run import per_layer  # noqa: E402


# --- generators -------------------------------------------------------------------


def _corpus_key(c):
    return c["text"], c["label"], c["views"].tolist(), c["lang"], c["categories"], c["emb"].tobytes()


def test_kb_corpus_deterministic_per_seed_and_differs_across_seeds():
    a, b, c = gen.kb_corpus(7, 300), gen.kb_corpus(7, 300), gen.kb_corpus(8, 300)
    assert _corpus_key(a) == _corpus_key(b)
    assert a["text"] != c["text"] and a["emb"].tobytes() != c["emb"].tobytes()


def test_question_stream_deterministic_and_exact_mix():
    pool = gen.question_pool(3, gen.kb_corpus(3, 300))
    take = [q for q, _ in zip(gen.question_stream(3, pool), range(40))]
    again = [q for q, _ in zip(gen.question_stream(3, pool), range(40))]
    other = [q for q, _ in zip(gen.question_stream(4, pool), range(40))]
    assert take == again and take != other
    for kind, share in gen.QUESTION_MIX:
        assert sum(q["kind"] == kind for q in take) == round(share * 40)


def test_build_corpus_deterministic_and_differs_across_seeds():
    a, b, c = gen.build_corpus(1, 200), gen.build_corpus(1, 200), gen.build_corpus(2, 200)
    assert a["docs"] == b["docs"] and a["evals"] == b["evals"]
    assert a["docs"] != c["docs"]
    assert gen.increment_batches(1, 2, 10, 1000, a["vocab"]) == gen.increment_batches(1, 2, 10, 1000, a["vocab"])


def test_reference_pipeline_on_planted_corpus():
    words = " ".join(f"w{i}" for i in range(40))
    near = words.replace("w20", "x20")
    evals = [" ".join(f"e{i}" for i in range(20))]
    dirty = " ".join(f"d{i}" for i in range(20)) + " " + " ".join(f"e{i}" for i in range(2, 17))
    docs = [(1, words), (2, words), (3, near), (4, dirty), (5, " ".join(f"u{i}" for i in range(30)))]
    ref = gen.reference_pipeline(docs, evals, threshold=0.5)
    assert ref["dedup"] == {1, 3, 4, 5}
    assert ref["pairs"] == {(1, 3)}
    assert ref["keep"] == {1, 4, 5}
    assert ref["contaminated"] == {4}
    assert ref["final"] == {1, 5}
    assert ref["chunks"] == 4 + 3


# --- percentiles ------------------------------------------------------------------------


def test_percentile_nearest_rank():
    assert percentile([5, 1, 3], 50) == 3
    assert percentile(list(range(1, 101)), 90) == 90


@pytest.mark.parametrize("n,tail_pct", [(1000, 99.0), (200, 95.0), (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (5, 50.0)])
def test_tail_keeps_ten_samples_beyond(n, tail_pct):
    s = latency_summary([float(i) for i in range(1, n + 1)])
    assert s["n"] == n and s["tail_pct"] == tail_pct
    if tail_pct > 50:
        assert sum(x > s["tail"] for x in range(1, n + 1)) >= 10
    else:
        assert s["tail"] == s["p50"]


# --- span arithmetic ---------------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 4), (3, 6), (8, 12)], 0, 10) == pytest.approx(7)
    assert covered([], 0, 10) == 0


def test_tracer_records_only_on_active_threads():
    from harness import Tracer

    tr = Tracer(enabled=True)
    with tr.span("off"):
        pass
    tr.set_thread_active(True)
    with tr.span("request", "r1"):
        with tr.span("child"):
            pass
    assert [(s.name, s.request) for s in tr.spans] == [("child", "r1"), ("request", "r1")]
    assert tr.spans[0].parent == tr.spans[1].sid


def test_self_times_subtract_children_once():
    spans = [
        Span(0, "request", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),
        Span(3, "a.child", 2.0, 3.0, 1, "r"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0})


def test_per_layer_reports_counted_jobs_per_group():
    from harness import Tracer

    tr = Tracer(enabled=True)
    tr.set_thread_active(True)
    for jobs in (3, 5):
        tr.count("operators.components.jobs", jobs)
        tr.count("operators.components.jobs.n", 1)
    with tr.span("operators.ivf.build"):
        pass
    out = per_layer(tr, [("operators.components.jobs", "count"), ("operators.ivf.build_s", "s"),
                         ("trace.overhead", "fraction"), ("operators.ivf.append_s", "s")],
                    {"trace.overhead": 0.25})
    assert out["operators.components.jobs"] == {"value": 4.0, "unit": "count"}
    assert out["operators.ivf.build_s"]["value"] == tr.spans[0].end - tr.spans[0].start
    assert out["trace.overhead"]["value"] == 0.25
    assert out["operators.ivf.append_s"]["value"] == 0.0


# --- references ----------------------------------------------------------------------------


def test_round6_is_half_up_on_the_binary_value():
    assert round6(0.1234565) == 0.123456  # binary value lies just below the half
    assert round6(0.25) == 0.25 and round6(0.0000015) == 0.000002


def test_exact_topk_breaks_ties_on_id():
    mat = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    ids = np.array([9, 4, 1, 2])
    assert exact_topk(mat, ids, [1.0, 0.0], 3) == [(4, 0.0), (9, 0.0), (2, round6(1 - 1 / np.sqrt(2)))]
    assert exact_topk(mat, ids, [1.0, 0.0], 2, mask=np.array([False, True, True, False])) == [(4, 0.0), (1, 1.0)]

