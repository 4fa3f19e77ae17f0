"""Seeded inputs for the benchmark: corpus, query stream, phrases, batches
and the document-lifecycle script.

Everything here is a pure function of (workload, seed). The program under
test only ever sees the generated corpus (as a ``documents.parquet`` in the
driver-table shape) and the generated query texts.

Query terms are drawn from the benchmark's own document-frequency table,
computed from ``analysis.analyze`` over the generated corpus, by df band:

* rare  -- df <= the 10th percentile of df
* low   -- df <= the median df (rare included)
* hot   -- df >= N/2 (the Zipf head)

The ``selective`` workload draws from the low band (its single-term
queries from the rare band), the ``hot`` workload from the hot band. Both
workloads run every query family.

The stream is cut into blocks of ``BLOCK`` queries with the same family
mix -- one of each scored family, then one absent-term query -- so that a
run's samples have the same composition whatever number of blocks it gets
through. Stopword-only queries (which analyze to no terms) are kept apart:
the benchmark runs them once per run, untimed.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass

from pysearch import analysis, datagen
from pysearch import exec as pexec

N_DOCS = 1000
#: doc-id stride between seeds: the seed picks the doc-id range
SEED_STRIDE = 10_000
WORKLOADS = ("selective", "hot")

#: exec's strategy caps (the values at the time the benchmark was written
#: stand in if a later version of the program drops the constants)
LOCAL_MAX_POSTINGS = getattr(pexec, "LOCAL_MAX_POSTINGS", 2_000_000)
GATHER_MAX_POSTINGS = getattr(pexec, "GATHER_MAX_POSTINGS", 20_000_000)

#: (family, number of terms, k, mode); absent/stopword families have no
#: band terms
SCORED_FAMILIES = (
    ("term", 1, 10, "or"),
    ("match_or3", 3, 10, "or"),
    ("and2", 2, 10, "and"),
    ("and4", 4, 10, "and"),
    ("or5", 5, 20, "or"),
    ("topk_k100", 2, 100, "or"),
)
#: the timed Spark-path families, two a round in turn: disjunctions only,
#: because on the selective workload a conjunction with few hits costs a
#: third of the others, and a median over a two-mode sample jumps between
#: the modes (the conjunctions run through this path in set-up)
QUERY_FAMILIES = ("term", "match_or3", "or5", "topk_k100")
ABSENT = ("absent", 1, 10, "or")
STOPWORDS = ("stopwords", 3, 10, "or")
BLOCK = len(SCORED_FAMILIES) + 1

#: the selective batch: this many queries of the scored families (Σdf far
#: below exec's local cap: the coordinator path)
SELECTIVE_BATCH = 128
#: the hot batch: 12-term OR queries over the hot band, added until Σdf
#: passes this multiple of exec's local cap (the executor, gather path)
HOT_BATCH_WIDTH = 12
HOT_BATCH_SIGMA = 1.05


@dataclass(frozen=True)
class QuerySpec:
    family: str
    text: str
    k: int
    mode: str


@dataclass
class Inputs:
    workload: str
    seed: int
    docs: list[dict]                  # datagen rows: doc_id, repo, ..., content
    tokens: dict[int, list[str]]      # doc_id -> analyzed tokens
    df: dict[str, int]
    stream: list[QuerySpec]           # blocks of BLOCK queries
    stopword_queries: list[QuerySpec]
    phrases: list[tuple[str, str]]    # adjacent-token bigrams
    absent_phrases: list[tuple[str, str]]   # second leg absent
    batch: list[QuerySpec]
    lifecycle: list[dict]

    @property
    def batch_sigma_df(self) -> int:
        """Σ over batch queries of Σ df(distinct query term): exec's
        candidate-postings estimate, from the benchmark's own df table."""
        return sum(self.df.get(t, 0) for q in self.batch
                   for t in set(analysis.analyze(q.text)))


def _absent_term(rng: random.Random, vocab: set[str]) -> str:
    while True:
        t = "zq" + "".join(rng.choice("xjkvw") for _ in range(6))
        if t not in vocab:
            return t


def _by_df(df: dict[str, int], terms) -> list[str]:
    return sorted(terms, key=lambda t: (df[t], t))


def _band(df: dict[str, int], workload: str, n_docs: int) -> list[str]:
    """The workload's query terms, sorted by df."""
    if workload == "hot":
        return _by_df(df, (t for t, d in df.items() if d >= n_docs // 2))
    median = sorted(df.values())[len(df) // 2]
    return _by_df(df, (t for t, d in df.items() if d <= median))


def _stratified(rng: random.Random, band: list[str], n: int) -> list[str]:
    """n distinct terms, one from each of n equal df strata of ``band``
    (sorted by df), so that queries of one family cost about the same
    from seed to seed."""
    if n > len(band):
        return rng.sample(band, n)
    cuts = [len(band) * i // n for i in range(n + 1)]
    return [rng.choice(band[lo:hi]) for lo, hi in zip(cuts, cuts[1:])]


def _query(rng: random.Random, family: str, n: int, band: list[str],
           band_set: set[str], docs_tokens: list[list[str]],
           vocab: set[str]) -> str:
    """band: the family's terms, sorted by df."""
    if family == "absent":
        return _absent_term(rng, vocab)
    if family == "stopwords":
        return " ".join(rng.sample(analysis.STOPWORDS, n))
    if family in ("and2", "and4"):
        # terms that co-occur in one document, so the conjunction matches
        for _ in range(50):
            toks = sorted(set(rng.choice(docs_tokens)) & band_set)
            if len(toks) >= n:
                return " ".join(rng.sample(toks, n))
    return " ".join(_stratified(rng, band, n))


def _phrases(rng: random.Random, n: int, band_set: set[str],
             docs_tokens: list[list[str]]) -> list[tuple[str, str]]:
    """Bigrams of adjacent analyzed tokens, both in the band and distinct,
    drawn from the middle fifth by document count, so that the pairs of a
    workload read and return about as much from seed to seed."""
    count: Counter = Counter()
    for toks in docs_tokens:
        count.update({(a, b) for a, b in zip(toks, toks[1:])
                      if a != b and a in band_set and b in band_set})
    pairs = sorted(count, key=lambda p: (count[p], p))
    middle = pairs[2 * len(pairs) // 5:3 * len(pairs) // 5]
    return rng.sample(middle if len(middle) >= n else pairs, n)


def _lifecycle(rng: random.Random, doc_ids: list[int], df: dict[str, int],
               band: list[str]) -> list[dict]:
    """Fixed script: delete one doc, then update another. The reads are
    two-term queries, so every read of a view costs about the same. The
    update appends three distinct rare marker terms (three times each)
    and the read that follows it queries them, so the new version must
    rank."""
    rare = sorted(t for t, d in df.items() if d <= 3)
    dele, upd = rng.sample(doc_ids, 2)
    markers = rng.sample(rare, 3)
    reads = [" ".join(_stratified(rng, band, 2)) for _ in range(8)]
    return [
        {"op": "delete", "doc_id": dele, "reads": reads},
        {"op": "update", "doc_id": upd,
         "suffix": "\n    # " + " ".join(markers * 3),
         "visible_query": " ".join(markers), "reads": reads[:3]},
    ]


def _batch(rng: random.Random, workload: str, band: list[str],
           band_set: set[str], docs_tokens: list[list[str]],
           vocab: set[str], df: dict[str, int],
           size: int | None) -> list[QuerySpec]:
    """Scored families for the selective batch; for the hot batch, wide OR
    queries until Σdf passes HOT_BATCH_SIGMA x the local cap (``size``
    overrides the count, for small test inputs)."""
    batch: list[QuerySpec] = []
    if workload == "hot":
        sigma, target = 0, HOT_BATCH_SIGMA * LOCAL_MAX_POSTINGS
        while (len(batch) < size) if size is not None else sigma <= target:
            terms = _stratified(rng, band, min(HOT_BATCH_WIDTH, len(band)))
            sigma += sum(df[t] for t in terms)
            batch.append(QuerySpec(f"or{len(terms)}", " ".join(terms), 10, "or"))
        return batch
    for i in range(SELECTIVE_BATCH if size is None else size):
        family, n, k, mode = SCORED_FAMILIES[i % len(SCORED_FAMILIES)]
        batch.append(QuerySpec(family, _query(rng, family, n, band, band_set,
                                              docs_tokens, vocab), k, mode))
    return batch


def make_inputs(workload: str, seed: int, n_docs: int = N_DOCS,
                n_blocks: int = 16, n_phrases: int = 16,
                batch_size: int | None = None) -> Inputs:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    base = (seed % 100_000) * SEED_STRIDE
    docs = [datagen.gen_doc(base + i) for i in range(n_docs)]
    tokens = {d["doc_id"]: analysis.analyze(d["content"]) for d in docs}
    df: Counter = Counter()
    for toks in tokens.values():
        df.update(set(toks))
    df = dict(df)
    vocab = set(df)
    band = _band(df, workload, n_docs)
    p10 = sorted(df.values())[len(df) // 10]
    rare = _by_df(df, (t for t, d in df.items() if d <= p10))
    band_set = set(band)
    docs_tokens = [tokens[d["doc_id"]] for d in docs]

    rng = random.Random(f"{workload}:{seed}")
    stream = []
    for b in range(n_blocks):
        for family, n, k, mode in list(SCORED_FAMILIES) + [ABSENT]:
            pool = rare if family == "term" and workload == "selective" else band
            stream.append(QuerySpec(family, _query(
                rng, family, n, pool, band_set, docs_tokens, vocab), k, mode))

    family, n, k, mode = STOPWORDS
    stopword_queries = [QuerySpec(family, _query(
        rng, family, n, band, band_set, docs_tokens, vocab), k, mode)]
    phrases = _phrases(rng, n_phrases, band_set, docs_tokens)
    absent = [(rng.choice(band), _absent_term(rng, vocab))]
    batch = _batch(rng, workload, band, band_set, docs_tokens, vocab, df,
                   batch_size)
    inp = Inputs(workload, seed, docs, tokens, df, stream, stopword_queries,
                 phrases, absent, batch,
                 _lifecycle(rng, [d["doc_id"] for d in docs], df, band))
    sigma = inp.batch_sigma_df
    if batch_size is None:
        if workload == "hot" and not LOCAL_MAX_POSTINGS < sigma <= GATHER_MAX_POSTINGS:
            raise RuntimeError(f"hot batch Σdf {sigma} outside the gather band")
        if workload == "selective" and sigma > LOCAL_MAX_POSTINGS:
            raise RuntimeError(f"selective batch Σdf {sigma} above the local cap")
    return inp


def documents_table(docs: list[dict]):
    """Driver-table shape of the corpus (what build.corpus_from_documents
    reads): doc_id, text, lang, source, n_chars."""
    import pandas as pd

    return pd.DataFrame({
        "doc_id": [d["doc_id"] for d in docs],
        "text": [d["content"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "source": [d["repo"] for d in docs],
        "n_chars": [len(d["content"]) for d in docs],
    })


def prepare(workload: str, seed: int, corpus_dir: str, full: bool):
    """make_inputs, the corpus written to corpus_dir/documents.parquet, and
    the oracle answers (gate.expected) -> (Inputs, expected)."""
    import os

    import gate

    inp = make_inputs(workload, seed)
    os.makedirs(corpus_dir, exist_ok=True)
    documents_table(inp.docs).to_parquet(
        os.path.join(corpus_dir, "documents.parquet"), index=False)
    return inp, gate.expected(inp, full)
