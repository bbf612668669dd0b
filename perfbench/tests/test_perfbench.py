"""Unit tests for the benchmark's pure parts; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
import types

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from run import tail  # noqa: E402
from spans import Recorder, covered, outermost, self_times  # noqa: E402


def _span(sid, name, start, end, parent=None, op=1):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": op}


# -- tail-percentile rule --------------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    samples = [float(x) for x in range(1, 31)]  # 30 samples
    pct, value, beyond = tail(samples)
    assert (beyond, value) == (10, 20.0)
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_never_below_median():
    samples = [float(x) for x in range(20)]
    pct, value, beyond = tail(samples)
    assert pct == 50.0 and value == 9.0 and beyond == 10


def test_tail_falls_back_to_median_when_too_few_samples():
    assert tail([3.0, 1.0, 2.0]) == (50.0, 2.0, 1)
    assert tail([1.0, 4.0]) == (50.0, 2.5, 1)
    assert tail([float(x) for x in range(19)]) == (50.0, 9.0, 9)


# -- self-time arithmetic --------------------------------------------------------


def test_covered_merges_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(0, 5)], 2, 3) == 1
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children_union():
    spans = [
        _span(1, "a", 0.0, 10.0),
        _span(2, "b", 1.0, 4.0, parent=1),
        _span(3, "b", 3.0, 5.0, parent=1),  # overlaps its sibling (another thread)
        _span(4, "c", 9.0, 12.0, parent=1),  # runs past its parent's end
        _span(5, "d", 1.5, 2.0, parent=2),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(10 - (4 + 1))
    assert selfs[2] == pytest.approx(3 - 0.5)
    assert selfs[4] == pytest.approx(3.0)
    assert selfs[5] == pytest.approx(0.5)


def test_outermost_skips_nested_same_name():
    spans = [
        _span(1, "op", 0, 10),
        _span(2, "op", 1, 2, parent=1),
        _span(3, "x", 3, 4, parent=1),
        _span(4, "op", 3.5, 3.8, parent=3),
    ]
    assert [s["id"] for s in outermost(spans, "op")] == [1]


# -- recorder ---------------------------------------------------------------------


def test_threads_inherit_span_and_op():
    rec = Recorder()
    rec.propagate_threads()
    try:
        with rec.op(7), rec.span("outer") as outer:
            def work():
                with rec.span("inner"):
                    pass

            t = threading.Thread(target=work)
            t.start()
            t.join(timeout=10)
        assert not t.is_alive()
    finally:
        rec.uninstall()
    inner = next(s for s in rec.spans if s["name"] == "inner")
    assert inner["parent"] == outer["id"] and inner["op"] == 7
    assert threading.Thread.start.__name__ == "start"


def test_patch_function_covers_reimported_names_and_uninstalls():
    def f(x):
        return x + 1

    home = types.ModuleType("analyst_toolkit_spark._perfbench_home")
    other = types.ModuleType("analyst_toolkit_spark._perfbench_other")
    home.f = other.g = f
    sys.modules[home.__name__], sys.modules[other.__name__] = home, other
    rec = Recorder()
    try:
        rec.patch_function(home, "f", "layer.f")
        assert other.g(1) == 2 and home.f(2) == 3
        assert [s["name"] for s in rec.spans] == ["layer.f", "layer.f"]
        rec.uninstall()
        assert home.f is f and other.g is f
    finally:
        del sys.modules[home.__name__], sys.modules[other.__name__]


# -- generator --------------------------------------------------------------------


@pytest.mark.parametrize("make,kw", [
    (gen.orders_variant, {"n": 2000}),
    (gen.customer_variant, {"n": 500}),
    (gen.documents_variant, {"n": 300, "n_copies": 10}),
    (gen.embeddings_variant, {"n": 200, "n_copies": 10}),
])
def test_generator_is_deterministic_per_seed(make, kw):
    a, fa = make(5, 0, **kw)
    b, fb = make(5, 0, **kw)
    c, _ = make(6, 0, **kw)
    d, _ = make(5, 1, **kw)
    assert a.equals(b) and fa == fb
    assert not a.equals(c) and not a.equals(d)


def test_orders_facts_match_the_table():
    table, facts = gen.orders_variant(3, 0, n=4000)
    df = table.to_pandas()
    assert len(df) == facts["rows"] == 4000 + facts["duplicates"]
    assert len(df.drop_duplicates()) == facts["unique_rows"] == df["o_orderkey"].nunique()
    assert df["o_orderkey"].notna().all()
    assert df["o_totalprice"].isna().mean() == pytest.approx(gen.NULL_FRAC, abs=0.02)


def test_documents_state_their_near_duplicate_pairs():
    table, facts = gen.documents_variant(3, 0, n=400, n_copies=20)
    docs = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    copies = [i for i in docs if i >= gen.COPY_OFFSET]
    assert len(copies) == facts["near_dup_pairs"] == 20
    for c in copies:
        assert gen.jaccard(gen.shingle_set(docs[c]), gen.shingle_set(docs[c - gen.COPY_OFFSET])) >= 0.85
    assert facts["min_pair_jaccard"] >= 0.85


def test_embedding_copies_are_near_their_originals():
    table, facts = gen.embeddings_variant(3, 0, n=100, n_copies=5)
    vecs = dict(zip(table.column("vec_id").to_pylist(),
                    (np.array(v) for v in table.column("embedding").to_pylist())))
    for i in (i for i in vecs if i >= gen.COPY_OFFSET):
        a, b = vecs[i], vecs[i - gen.COPY_OFFSET]
        assert a @ b / (np.linalg.norm(a) * np.linalg.norm(b)) > 0.9999
