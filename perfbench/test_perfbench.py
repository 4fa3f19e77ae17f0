"""Tests of the benchmark's own parts (no Spark): the input generator, the
correctness gate and the span arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import os
import pickle
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gate  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402

SMALL = dict(n_docs=300, n_blocks=4, n_phrases=10, batch_size=24)


def _parquet_bytes(inp) -> bytes:
    buf = io.BytesIO()
    inputs.documents_table(inp.docs).to_parquet(buf, index=False)
    return buf.getvalue()


def test_generator_deterministic_per_seed():
    a = inputs.make_inputs("selective", 7, **SMALL)
    b = inputs.make_inputs("selective", 7, **SMALL)
    assert pickle.dumps(a) == pickle.dumps(b)
    assert _parquet_bytes(a) == _parquet_bytes(b)
    c = inputs.make_inputs("selective", 8, **SMALL)
    assert [d["doc_id"] for d in c.docs] != [d["doc_id"] for d in a.docs]
    assert [q.text for q in c.stream] != [q.text for q in a.stream]


def test_hot_batch_in_gather_band_and_deterministic():
    a = inputs.make_inputs("hot", 3)
    b = inputs.make_inputs("hot", 3)
    assert pickle.dumps(a) == pickle.dumps(b)
    assert inputs.LOCAL_MAX_POSTINGS < a.batch_sigma_df <= inputs.GATHER_MAX_POSTINGS
    hot = {t for t, d in a.df.items() if d >= inputs.N_DOCS // 2}
    scored = [q for q in a.stream if q.family not in ("absent", "stopwords")]
    assert all(set(q.text.split()) <= hot for q in scored)


def test_stream_families_and_phrases():
    inp = inputs.make_inputs("selective", 5, **SMALL)
    fams = {q.family for q in inp.stream}
    assert fams == {f for f, *_ in inputs.SCORED_FAMILIES} | {"absent"}
    assert all(q.text not in inp.df for q in inp.stream if q.family == "absent")
    assert inp.stopword_queries and all(
        inputs.analysis.analyze(q.text) == [] for q in inp.stopword_queries)
    oracle = gate.PhraseOracle(inp.tokens)
    assert inp.phrases and all(oracle.counts(*p) for p in inp.phrases)
    assert inp.absent_phrases and not any(
        oracle.counts(*p) for p in inp.absent_phrases)
    for b in range(0, len(inp.stream), inputs.BLOCK):
        fams = Counter(q.family for q in inp.stream[b:b + inputs.BLOCK])
        assert all(fams[f] == 1 for f, *_ in inputs.SCORED_FAMILIES)
        assert fams["absent"] == 1


def test_stratified_terms_one_per_df_stratum():
    import random

    band = [f"t{i}" for i in range(10)]     # sorted by df
    rng = random.Random(1)
    for n in (1, 2, 5):
        picked = inputs._stratified(rng, band, n)
        assert [band.index(t) * n // len(band) for t in picked] == list(range(n))


def _corpus():
    return {10: "merge sort merge", 11: "sort merge value", 12: "value value",
            13: "mergeSort sort_value", 14: "the a merge"}


def test_gate_catches_wrong_doc_id_and_score():
    want = gate.CorpusOracle(_corpus()).topk("merge sort", 3)
    assert gate.check_topk(list(want), want) == []
    swapped = [want[1], want[0]] + want[2:]
    assert gate.check_topk(swapped, want)
    wrong_id = [(want[0][0] + 100, want[0][1])] + want[1:]
    assert gate.check_topk(wrong_id, want)
    off = [(want[0][0], want[0][1] * (1 + 1e-6))] + want[1:]
    assert gate.check_topk(off, want)
    noise = [(d, s * (1 + 1e-13)) for d, s in want]
    assert gate.check_topk(noise, want) == []
    assert gate.check_topk(want[:-1], want)


def test_dense_oracle_equals_brute_force_search():
    import random

    from pysearch import analysis

    inp = inputs.make_inputs("selective", 9, **SMALL)
    texts = {d["doc_id"]: d["content"] for d in inp.docs}
    o = gate.CorpusOracle(texts)
    rng = random.Random(2)
    vocab = sorted(inp.df)
    for _ in range(60):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 6)))
        for mode in ("or", "and"):
            want = o.index.search(analysis.analyze(text), k=20, mode=mode)
            assert o.topk(text, 20, mode) == want
    assert o.topk("the a of", 10) == []


def test_gate_checks_each_query_of_a_batch():
    o = gate.CorpusOracle(_corpus())
    want = [o.topk("merge", 3), o.topk("value sort", 3)]
    rows = [(qid, d, s) for qid, w in enumerate(want) for d, s in reversed(w)]
    assert gate.check_batch(rows, want) == []
    # a slice: only the queries sent are checked
    assert gate.check_batch([r for r in rows if r[0] == 0], want[:1]) == []
    bad = [(1, d + 100, s) if qid == 1 else (qid, d, s) for qid, d, s in rows]
    assert gate.check_batch(bad, want)[0].startswith("query 1:")


def test_gate_counts_views_and_content_sha():
    o = gate.CorpusOracle(_corpus())
    assert o.count("merge sort", "or") == 4
    assert o.count("merge sort", "and") == 3
    assert gate.check_count(4, 4) == [] and gate.check_count(5, 4)
    top = o.topk("merge", 10)
    assert all(d != 10 for d, _ in o.topk("merge", 10, exclude=frozenset({10})))
    assert len(o.topk("merge", 10, exclude=frozenset({10}))) == len(top) - 1
    import hashlib

    texts = _corpus()
    rows = [(d, hashlib.sha256(t.encode()).hexdigest()) for d, t in texts.items()]
    assert gate.check_content_sha(rows, texts) == []
    assert gate.check_content_sha(rows[:1] + [(11, "0" * 64)] + rows[2:], texts)


def test_gate_catches_wrong_phrase_count():
    from pysearch import analysis

    tokens = {d: analysis.analyze(t) for d, t in _corpus().items()}
    want = gate.PhraseOracle(tokens).counts("merge", "sort")
    assert want == [(10, 1), (13, 1)]
    assert gate.check_rows(want, want) == []
    assert gate.check_rows([(10, 2), (13, 1)], want)
    assert gate.check_rows([(10, 1)], want)


def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "root": 0, "name": name,
            "start": start, "end": end, "group": f"g{i}", "counts": {},
            "jobs": 0}


def test_self_time_on_hand_made_tree():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),      # overlaps span 2
        _span(2, 0, 3.0, 6.0),
        _span(3, 1, 2.0, 3.0),      # grandchild: only counts against span 1
        _span(4, 0, 9.0, 12.0),     # runs past its parent: clipped to 10
        _span(5, 2, 5.0, 5.0),      # empty
    ]
    st = tracing.self_times(spans)
    assert st[0] == 10.0 - (5.0 + 1.0)     # children cover [1,6] and [9,10]
    assert st[1] == 3.0 - 1.0
    assert st[2] == 3.0
    assert st[3] == 1.0
    assert st[4] == 3.0
    assert st[5] == 0.0


def test_tracer_wrap_nesting_counts_and_unwrap():
    import types

    mod = types.ModuleType("fake")
    mod.leaf = lambda x: x * 2
    mod.outer = lambda x: mod.leaf(x) + mod.helper()
    mod.helper = lambda: 1
    tr = tracing.Tracer()
    tr.wrap(mod, "leaf", "fake.leaf", counter=lambda a, out: {"n": a[0]})
    tr.wrap(mod, "outer", "fake.outer")
    tr.wrap(mod, "helper", "fake.helper", span=False)
    tr.wrap(mod, "missing", "fake.missing")
    with tr.span("op.test"):
        assert mod.outer(3) == 7
    roots = tr.per_root()
    assert len(roots) == 1 and roots[0]["name"] == "op.test"
    lay = roots[0]["layers"]
    assert lay["fake.leaf"]["calls"] == 1 and lay["fake.leaf"]["n"] == 3
    assert lay["fake.outer"]["fake.helper.calls"] == 1
    assert tr.absent == ["fake.missing"]
    total = sum(v["ms"] for v in lay.values())
    assert abs(total - roots[0]["wall_ms"]) < 1e-6
    tr.unwrap_all()
    assert mod.leaf(2) == 4 and not hasattr(mod.leaf, "__wrapped__")
