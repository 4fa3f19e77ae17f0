"""Correctness gate: every answer the program gave during a run is checked
here, after the timed phases, against an oracle that does not use the
program's query path.

* scored top-k and counts -- ``pysearch.oracle.BruteForceIndex`` over the
  same corpus: doc_ids rank-identical, scores equal to rtol 1e-9;
* phrase pairs -- an adjacency count over ``analysis.analyze`` tokens;
* lifecycle views -- the oracle over the physical corpus (v1 and v2 of
  every updated doc) with deleted ids dropped from the ranking;
* the compacted segment -- the oracle over the live corpus at the
  preserved doc_ids;
* the committed docs table -- ``content_sha`` equals sha256(content).

Each check returns a list of mismatch descriptions; an empty list is a
pass. A run's failed-operation count is the number of checks that fail.
``expected`` computes every answer the oracles give for a run's inputs;
the benchmark computes it with the inputs, before Spark starts.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

from pysearch import analysis
from pysearch.oracle import BruteForceIndex

RTOL = 1e-9


def check_topk(got: list[tuple[int, float]],
               want: list[tuple[int, float]]) -> list[str]:
    """Rank-identical doc_ids, scores to rtol."""
    errs = []
    if [d for d, _ in got] != [d for d, _ in want]:
        errs.append(f"doc_ids {[d for d, _ in got][:10]} != "
                    f"{[d for d, _ in want][:10]}")
        return errs
    for rank, ((_, s1), (_, s2)) in enumerate(zip(got, want)):
        if not math.isclose(s1, s2, rel_tol=RTOL, abs_tol=0.0):
            errs.append(f"score at rank {rank}: {s1!r} != {s2!r}")
            break
    return errs


def check_batch(rows: list[tuple[int, int, float]],
                want: list[list[tuple[int, float]]]) -> list[str]:
    """rows: (query_id, doc_id, score) of a batch answer; want[i]: the
    oracle top-k of query i. Each query's hits are ranked by score desc,
    doc_id asc, then checked as ``check_topk``."""
    by_q: dict[int, list] = {}
    for qid, d, s in rows:
        by_q.setdefault(qid, []).append((d, s))
    errs = []
    for qid, w in enumerate(want):
        hits = sorted(by_q.get(qid, []), key=lambda h: (-h[1], h[0]))
        errs += [f"query {qid}: {e}" for e in check_topk(hits, w)]
    return errs


def check_count(got: int, want: int) -> list[str]:
    return [] if int(got) == int(want) else [f"count {got} != {want}"]


class PhraseOracle:
    """Adjacent-token counts over ``analysis.analyze`` tokens."""

    def __init__(self, tokens: dict[int, list[str]]):
        self._pairs: dict[tuple[str, str], dict[int, int]] = {}
        for doc_id, toks in tokens.items():
            for pair in zip(toks, toks[1:]):
                per_doc = self._pairs.setdefault(pair, {})
                per_doc[doc_id] = per_doc.get(doc_id, 0) + 1

    def counts(self, t0: str, t1: str) -> list[tuple[int, int]]:
        """(doc_id, occurrences of t0 immediately followed by t1), doc_id
        ascending, docs with no occurrence omitted."""
        return sorted(self._pairs.get((t0, t1), {}).items())


def check_rows(got: list[tuple], want: list[tuple]) -> list[str]:
    return [] if list(got) == list(want) else [
        f"rows {list(got)[:5]} != {list(want)[:5]} "
        f"({len(got)} vs {len(want)})"]


class CorpusOracle:
    """BruteForceIndex plus doc-set counting over one corpus state."""

    def __init__(self, texts: dict[int, str]):
        ids = sorted(texts)
        self.index = BruteForceIndex(ids, [texts[i] for i in ids])
        self._docs_of = {t: {int(self.index.doc_ids[i]) for i in plist}
                         for t, plist in self.index.postings.items()}
        self._dense: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def _term(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc indexes, BM25 contributions) of ``term``, from the oracle's
        own ``term_scores``, computed once per term."""
        if term not in self._dense:
            sc = self.index.term_scores(term)
            self._dense[term] = (np.fromiter(sc, np.int64, len(sc)),
                                 np.fromiter(sc.values(), np.float64, len(sc)))
        return self._dense[term]

    def topk(self, text: str, k: int, mode: str = "or",
             exclude: frozenset = frozenset()) -> list[tuple[int, float]]:
        """``BruteForceIndex.search`` over dense arrays: the same per-term
        scores added in the same term order, so the scores are the same
        floats; ranked by score desc, doc_id asc; ``exclude`` doc_ids
        dropped from the ranking. The oracle answers are made before every
        run, and the dict loop of ``search`` takes ~2 s for the hot
        batch's 12-term queries."""
        terms = analysis.analyze(text)
        uniq = sorted(set(terms))
        if not uniq:
            return []
        acc = np.zeros(self.index.n_docs)
        hits = np.zeros(self.index.n_docs, np.int64)
        for term in uniq:
            i, s = self._term(term)
            acc[i] += s * terms.count(term)
            hits[i] += 1
        docs = np.flatnonzero(hits == len(uniq) if mode == "and" else hits > 0)
        if exclude:
            docs = docs[~np.isin(self.index.doc_ids[docs], list(exclude))]
        ids = self.index.doc_ids[docs]
        order = np.lexsort((ids, -acc[docs]))[:k]
        return [(int(ids[j]), float(acc[docs[j]])) for j in order]

    def count(self, text: str, mode: str = "or") -> int:
        sets = [self._docs_of.get(t, set())
                for t in sorted(set(analysis.analyze(text)))]
        if not sets:
            return 0
        if mode == "and":
            return len(set.intersection(*sets))
        return len(set.union(*sets))


def check_content_sha(rows: list[tuple[int, str]],
                      texts: dict[int, str]) -> list[str]:
    """rows: (doc_id, content_sha) read back from the committed docs
    table."""
    errs = []
    if sorted(d for d, _ in rows) != sorted(texts):
        errs.append(f"docs table holds {len(rows)} ids, corpus {len(texts)}")
    for doc_id, sha in rows:
        want = hashlib.sha256(texts.get(doc_id, "").encode("utf-8")).hexdigest()
        if sha != want:
            errs.append(f"content_sha of doc {doc_id}")
            break
    return errs


def expected(inp, full: bool) -> dict[str, dict]:
    """Every oracle answer a run of ``inp`` can be checked against, by kind
    and key: topk[(text, k, mode)], count[(text, mode)], phrase[(t0, t1)],
    view[(stage, text)] and, with full=True (the traced lifecycle),
    compacted[text].

    The lifecycle states follow ``inp.lifecycle``: a delete leaves the
    physical corpus as is; an update adds the new version under the next
    doc_id and deletes the old one."""
    texts = {d["doc_id"]: d["content"] for d in inp.docs}
    base = CorpusOracle(texts)
    exp: dict[str, dict] = {"topk": {}, "count": {}, "phrase": {},
                            "view": {}, "compacted": {}}
    for q in list(inp.stream) + list(inp.stopword_queries) + list(inp.batch):
        key = (q.text, q.k, q.mode)
        if key not in exp["topk"]:
            exp["topk"][key] = base.topk(*key)
    for q in inp.stream:
        for mode in ("or", "and"):
            exp["count"][(q.text, mode)] = base.count(q.text, mode)
    phrases = PhraseOracle(inp.tokens)
    for pair in list(inp.phrases) + list(inp.absent_phrases):
        exp["phrase"][pair] = phrases.counts(*pair)

    physical, deletes, oracle = dict(texts), set(), base
    for step in inp.lifecycle:
        if step["op"] == "delete":
            deletes.add(step["doc_id"])
            reads = step["reads"]
        elif not full:
            break
        else:
            physical[max(physical) + 1] = physical[step["doc_id"]] + step["suffix"]
            deletes.add(step["doc_id"])
            oracle = CorpusOracle(physical)
            reads = [step["visible_query"]] + step["reads"]
        for text in reads:
            exp["view"][(step["op"], text)] = oracle.topk(
                text, 10, exclude=frozenset(deletes))
    if full:
        live = CorpusOracle({d: t for d, t in physical.items() if d not in deletes})
        step = inp.lifecycle[-1]
        for text in [step["visible_query"]] + step["reads"]:
            exp["compacted"][text] = live.topk(text, 10)
    return exp
