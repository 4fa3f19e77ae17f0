"""Query execution: top-k BM25 term/match/bool queries over the index.

Models the reference's query-then-fetch lifecycle (SURVEY §3.1):
  analyze query -> per-term posting lookups (bucket-pruned scans)
  -> scoring (vectorized numpy over decoded blocks)
  -> global top-k (score desc, doc_id asc)  -> fetch phase (join docs).

One driver-side block read (_local_blocks_pandas): a pyarrow read of the
pruned bucket dirs of a committed segment (Index.term_scanner — no Spark
job) or one narrow collect of the same bucket+term-pruned scan
(Index.term_rows) for an in-memory segment. Two physical strategies,
auto-selected by the Σdf estimate over the query terms (search_many):

  * 'local' (Σdf <= LOCAL_MAX_POSTINGS) — the driver-side block read,
    scored in process by the numpy MAXSCORE/block-max kernel
    (_score_query_group): terms are processed in descending max-impact
    order; once the sum of remaining terms' upper bounds drops below the
    running kth score, remaining terms can no longer introduce new
    winners, so only blocks whose docID range intersects current
    candidates are decoded (block skipping via the block_max/first_doc_id
    impact metadata). Rank-identical to exhaustive scoring — verified in
    tests. [lucene dep] WANDScorer / MaxScoreCache / ImpactsDISI;
    collector TopScoreDocCollector#setMinCompetitiveScore. The
    interactive single-query path (search_interactive) is this strategy
    returning pandas.

  * 'distributed' — the one executor BM25 kernel (_scored_postings)
    decodes and scores posting rows per partition with mapInPandas
    (narrow, no per-query task); _match_scores sums them per (query,
    doc) and applies the AND rule; a window ranks each query's top-k.
    Scales to arbitrarily hot terms; the shuffle carries one row per
    (candidate doc, term). ES analog: per-shard query phase +
    SearchPhaseController#reducedQueryPhase.

The compound scorers (bool, dis_max, multi_match, function_score, ...)
sit on the same executor kernel (_per_term_scored, _match_scores);
counting and the multi-term rewrites on one docID-only kernel
(_decoded_ids).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, functions as F, types as T

from . import analysis, codec
from .build import Index

HIT_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])

TERM_DICT_CACHE_MAX = 200_000    # full term-dict driver cache below this vocab size

# posting-block columns the scoring and counting kernels read
BLOCK_COLS = ["term", "salt", "df", "block_id", "n_in_block", "first_doc_id",
              "docid_gaps", "tfs_enc", "norms_enc", "block_max_tf",
              "block_max_score"]


@dataclass
class Query:
    query_id: int
    terms: list[str]        # analyzed tokens (duplicates = clause multiplicity)
    k: int = 10
    mode: str = "or"        # or | and

    @classmethod
    def from_text(cls, query_id: int, text: str, k: int = 10, mode: str = "or"):
        return cls(query_id, analysis.analyze(text), k, mode)


def _terms(text_or_terms) -> list[str]:
    """Analyzed tokens of a query string; a term list passes through."""
    return (analysis.analyze(text_or_terms)
            if isinstance(text_or_terms, str) else list(text_or_terms))


def _bm25_params(index: Index) -> tuple:
    """(n_docs, avgdl, k1, b) — the scalars every BM25 kernel closes over."""
    return index.stats.n_docs, index.stats.avgdl, index.k1, index.b


# ---------------------------------------------------------------------------
# numpy scoring kernels
# ---------------------------------------------------------------------------


def _topk(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    """Top-k by (score desc, doc_id asc); returns (doc_ids, scores)."""
    if len(doc_ids) == 0:
        return doc_ids, scores
    if len(doc_ids) > k:
        # argpartition alone loses tie determinism at the boundary: take a
        # safe superset of everything >= kth value, then sort exactly.
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        keep = scores >= kth
        doc_ids, scores = doc_ids[keep], scores[keep]
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order], scores[order]


def _score_query_group(pdf, q: Query, n_docs: int, avgdl: float, k1: float,
                       b: float):
    """All posting blocks of query `q` (BLOCK_COLS + its per-term `weight`)
    -> its top-k (query_id, doc_id, score), ordered (score desc, doc_id
    asc). Implements MAXSCORE with block skipping (see module docstring).
    For mode=and, every distinct query term must have blocks in `pdf`
    (_score_blocks_pd applies that rule)."""
    import pandas as pd

    k, mode = q.k, q.mode

    # per (term,salt) posting lists, with per-term query weight + global df
    lists = []
    for (term, _salt), g in pdf.groupby(["term", "salt"], sort=False):
        g = g.sort_values("block_id")
        idf = float(codec.bm25_idf(int(g["df"].iloc[0]), n_docs))
        lists.append({
            "term": term,
            "weight": float(g["weight"].iloc[0]),
            "idf": idf,
            "first": g["first_doc_id"].to_numpy(),
            "counts": g["n_in_block"].to_numpy(),
            "gaps": g["docid_gaps"].tolist(),
            "tfs": g["tfs_enc"].tolist(),
            "norms": g["norms_enc"].tolist(),
            "bms": g["block_max_score"].to_numpy(dtype=np.float64),
        })

    def decode_scores(lst, block_mask=None):
        if block_mask is not None:
            idx = np.nonzero(block_mask)[0]
            firsts, counts = lst["first"][idx], lst["counts"][idx]
            gaps = [lst["gaps"][i] for i in idx]
            tfs_l = [lst["tfs"][i] for i in idx]
            norms_l = [lst["norms"][i] for i in idx]
        else:
            firsts, counts = lst["first"], lst["counts"]
            gaps, tfs_l, norms_l = lst["gaps"], lst["tfs"], lst["norms"]
        ids, tfs, nrm = codec.decode_blocks_concat(
            firsts, gaps, counts, tfs_l, norms_l)
        dlq = codec.byte4_to_int(nrm)
        sc = lst["idf"] * codec.bm25_tf_weight(tfs, dlq, avgdl, k1, b) * lst["weight"]
        return ids, sc

    if mode == "and":
        # decode all, per-term doc sets; intersect ascending-df first
        per_term: dict[str, list] = {}
        for lst in lists:
            ids, sc = decode_scores(lst)
            per_term.setdefault(lst["term"], []).append((ids, sc))
        term_arrays = []
        for term, parts in per_term.items():
            ids = np.concatenate([p[0] for p in parts])
            sc = np.concatenate([p[1] for p in parts])
            o = np.argsort(ids, kind="stable")
            term_arrays.append((ids[o], sc[o]))
        term_arrays.sort(key=lambda a: len(a[0]))
        cur_ids, cur_sc = term_arrays[0]
        for ids, sc in term_arrays[1:]:
            pos = np.searchsorted(ids, cur_ids)
            pos_c = np.minimum(pos, len(ids) - 1)
            hit = ids[pos_c] == cur_ids
            cur_ids, cur_sc = cur_ids[hit], cur_sc[hit] + sc[pos_c[hit]]
        top_ids, top_sc = _topk(cur_ids, cur_sc, k)
    else:
        # MAXSCORE: process terms in descending max-contribution order
        term_max: dict[str, float] = {}
        for lst in lists:
            m = float(lst["bms"].max() * lst["weight"]) if len(lst["bms"]) else 0.0
            term_max[lst["term"]] = max(term_max.get(lst["term"], 0.0), m)
        order = sorted(term_max, key=lambda t: -term_max[t])
        remaining_ub = {
            order[i]: sum(term_max[t] for t in order[i:]) for i in range(len(order))
        }
        acc_ids = np.zeros(0, dtype=np.int64)
        acc_sc = np.zeros(0, dtype=np.float64)
        by_term: dict[str, list] = {}
        for lst in lists:
            by_term.setdefault(lst["term"], []).append(lst)
        theta = -np.inf
        for term in order:
            prune = remaining_ub[term] < theta  # new docs can no longer win
            for lst in by_term[term]:
                if prune and len(acc_ids):
                    # block skipping: only blocks whose doc range may contain
                    # a current candidate need decoding
                    firsts = lst["first"]
                    ends = np.append(firsts[1:], np.iinfo(np.int64).max)
                    lo = np.searchsorted(acc_ids, firsts, side="left")
                    hi = np.searchsorted(acc_ids, ends, side="left")
                    mask = hi > lo
                    if not mask.any():
                        continue
                    ids, sc = decode_scores(lst, mask)
                    keep = np.isin(ids, acc_ids, assume_unique=False)
                    ids, sc = ids[keep], sc[keep]
                elif prune:
                    continue
                else:
                    ids, sc = decode_scores(lst)
                acc_ids = np.concatenate([acc_ids, ids])
                acc_sc = np.concatenate([acc_sc, sc])
                o = np.argsort(acc_ids, kind="stable")
                acc_ids, acc_sc = acc_ids[o], acc_sc[o]
                uids, inv = np.unique(acc_ids, return_inverse=True)
                usc = np.zeros(len(uids))
                np.add.at(usc, inv, acc_sc)
                acc_ids, acc_sc = uids, usc
            if len(acc_sc) >= k:
                theta = np.partition(acc_sc, len(acc_sc) - k)[len(acc_sc) - k]
        top_ids, top_sc = _topk(acc_ids, acc_sc, k)

    return pd.DataFrame({"query_id": q.query_id, "doc_id": top_ids, "score": top_sc})


def _ids_pd(blocks):
    """docID-gap decode of posting-block rows -> pandas (doc_id, term), one
    row per posting — no tf/norm decode, no BM25."""
    import pandas as pd

    counts = blocks["n_in_block"].to_numpy(dtype=np.int64)
    ids, _, _ = codec.decode_blocks_concat(
        blocks["first_doc_id"].to_numpy(), blocks["docid_gaps"], counts)
    return pd.DataFrame({"doc_id": ids,
                         "term": np.repeat(blocks["term"].to_numpy(), counts)})


# ---------------------------------------------------------------------------
# physical strategies
# ---------------------------------------------------------------------------


def _queries_df(index: Index, queries: list[Query]):
    rows = [(q.query_id, term, float(mult))
            for q in queries for term, mult in Counter(q.terms).items()]
    return index.postings.sparkSession.createDataFrame(
        rows, "query_id long, term string, weight double")


def term_meta(index: Index, terms: list[str]) -> dict[str, int]:
    """term -> df from term_stats (0 when absent), memoized on the Index.

    One tiny Spark job resolves ALL missing terms of a query at once (df
    for selectivity estimation + WAND; a term's bucket needs no lookup,
    Index.bucket computes it on the driver). Repeat queries hit the
    cache and schedule zero extra jobs. ES analog: the terms dictionary
    lookup that precedes posting iteration.

    The cache lives as a plain instance attribute, NOT inside Index.meta:
    meta is serialized into manifest.json by write_index and shallow-copied
    by merge_indexes, so a meta-resident cache would leak stale entries
    (df 0 for absent terms) across merges/loads.

    Small indexes load the ENTIRE term dictionary on first touch (one job
    instead of one per new query's term set — halves the per-query job
    count); past TERM_DICT_CACHE_MAX terms, per-term lazy lookups."""
    cache = index.__dict__.setdefault("_term_cache", {})
    missing = [t for t in terms if t not in cache]
    if missing and not index.__dict__.get("_term_cache_full"):
        sel = index.term_stats.select("term", "df")
        n_terms = index.__dict__.get("_n_terms")
        if n_terms is None:
            n_terms = index.term_stats.count()
            index.__dict__["_n_terms"] = n_terms
        full = n_terms <= TERM_DICT_CACHE_MAX
        if not full:
            sel = sel.where(F.col("term").isin(missing))
        for r in sel.collect():
            cache[r["term"]] = int(r["df"])
        index.__dict__["_term_cache_full"] = full
    for t in terms:
        cache.setdefault(t, 0)  # absent from the index
    return {t: cache[t] for t in terms}


def _candidates(index: Index, queries: list[Query]) -> DataFrame:
    """Posting blocks for all query terms, tagged with query_id/weight by a
    broadcast join with the query relation (the executor strategies)."""
    terms = {t for q in queries for t in q.terms}
    return index.term_rows("postings", terms).join(
        F.broadcast(_queries_df(index, queries)), "term")


# Below this Σdf the candidate blocks are gathered to the DRIVER (pyarrow,
# or one narrow scan job) and scored in numpy — the ES coordinator-gather
# shape. The cap is a coordinator-memory knob, not a correctness bound: 2M
# postings is ~16k encoded block rows (~tens of MB collected), decoded+
# MAXSCOREd in well under a second, and beats the distributed path's
# multi-job floor by ~7× (r03 measurement at 600k postings: 0.85 s local
# vs 6.4 s distributed on local[8]). Truly hot terms at 10^12-doc scale
# (billions of postings) still route to distributed via the estimate.
LOCAL_MAX_POSTINGS = 2_000_000


def search_many(index: Index, queries: list[Query], method: str = "auto") -> DataFrame:
    """Batch top-k search: N queries -> (query_id, doc_id, score).

    Physical strategies (ES query-then-fetch analogs, auto-selected by
    Σ df over the query terms; see the module docstring):
      local        — the driver-side block read (_local_blocks_pandas)
                     scored by MAXSCORE in process: no Spark job on a
                     committed segment once the dictionary is warm, one
                     narrow scan job on an in-memory one.
      distributed  — decode+score per partition, shuffle (doc,query) grain,
                     window top-k. For hot terms / huge candidate sets.
    "gather" names a deleted one-task-per-query strategy (slower than
    distributed on the measured hot batches, BENCH/PLANS.md); it is kept
    as another name for distributed. Any other method raises ValueError.
    """
    if method not in ("auto", "local", "distributed", "gather"):
        raise ValueError(f"unknown search method {method!r}")
    queries = [q for q in queries if q.terms]
    if not queries:
        return index.postings.sparkSession.createDataFrame([], HIT_SCHEMA)

    if method == "auto":
        est = _estimate_postings(index, queries)
        method = "local" if est <= LOCAL_MAX_POSTINGS else "distributed"
    if method == "local":
        return _search_local(index, queries)
    return _search_distributed(index, queries)


def _local_blocks_pandas(index: Index, terms: list[str]):
    """The one driver-side read of candidate posting blocks -> a pandas
    frame of BLOCK_COLS rows (possibly empty); serves the local strategy,
    search_interactive and count_matches.

    Committed segments (Index.disk_path, set by build.load_index) are read
    with PYARROW (Index.term_scanner): the terms' bucket=N parquet dirs
    are opened directly and the term filter prunes row groups via parquet
    statistics — the same pruning the Spark plan does, minus the job.
    ZERO Spark jobs (the 0.2-0.4 s selective-query floor was job dispatch
    around a scan that lands on the driver anyway). In-memory segments
    take one narrow collect of the same pruned scan (Index.term_rows)."""
    import pandas as pd

    if index.disk_path is None:
        rows = index.term_rows("postings", terms).select(*BLOCK_COLS).collect()
        return pd.DataFrame([tuple(r) for r in rows], columns=BLOCK_COLS)
    scanner = index.term_scanner("postings", terms, BLOCK_COLS)
    if scanner is None:
        return pd.DataFrame(columns=BLOCK_COLS)
    return scanner.to_table().to_pandas()


def _score_blocks_pd(index: Index, blocks, queries: list[Query]):
    """MAXSCORE per query over a driver-side frame of candidate block rows
    -> pandas hits (query_id, doc_id, score), ordered by query_id, then
    (score desc, doc_id asc)."""
    import pandas as pd

    bm25 = _bm25_params(index)
    outs = []
    for q in sorted(queries, key=lambda q: q.query_id):
        mult = {t: float(m) for t, m in Counter(q.terms).items()}
        g = blocks[blocks["term"].isin(mult)]
        # the AND rule of _match_scores: a term without blocks matches no doc
        if g["term"].nunique() >= (len(mult) if q.mode == "and" else 1):
            outs.append(_score_query_group(
                g.assign(weight=g["term"].map(mult)), q, *bm25))
    if not outs:
        return pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                             "doc_id": pd.Series(dtype="int64"),
                             "score": pd.Series(dtype="float64")})
    return pd.concat(outs, ignore_index=True)


def _search_local(index: Index, queries: list[Query]) -> DataFrame:
    """Local strategy: the driver-side block read + in-process MAXSCORE
    -> a small local DataFrame of top-k rows.

    The query relation is NOT joined in (unlike the distributed path):
    the blocks land on the driver anyway, so per-query tagging is a
    pandas map here — skipping the broadcast-build job halves
    selective-query latency (r03 measurement: ~0.4 s at sf0.1)."""
    terms = sorted({t for q in queries for t in q.terms})
    hits = _score_blocks_pd(index, _local_blocks_pandas(index, terms), queries)
    return index.postings.sparkSession.createDataFrame(hits, schema=HIT_SCHEMA)


def search_interactive(index: Index, text_or_terms, k: int = 10,
                       mode: str = "or"):
    """Interactive single-query path: the local strategy returned as a
    PANDAS frame (doc_id, score), ordered (score desc, doc_id asc) — the
    ES coordinator's JSON-response analog; rank-identical to search()
    (pytest-pinned). Zero Spark jobs on a committed segment once the
    terms dictionary is warm.

    Past LOCAL_MAX_POSTINGS the query runs on the executors through
    search() (hot terms belong there — the same cap as search_many)."""
    q = Query(0, _terms(text_or_terms), k, mode)
    if _estimate_postings(index, [q]) > LOCAL_MAX_POSTINGS:
        return search(index, q.terms, k=k, mode=mode).toPandas()
    hits = _score_blocks_pd(index, _local_blocks_pandas(index, q.terms), [q])
    return hits[["doc_id", "score"]]


def _estimate_postings(index: Index, queries: list[Query]) -> int:
    """Total candidate postings across queries: Σ_q Σ_{t∈q} df(t).
    Served from the term_meta cache (shares its one lookup job)."""
    terms = sorted({t for q in queries for t in q.terms})
    meta = term_meta(index, terms)
    return sum(meta[t] for q in queries for t in set(q.terms))


def _scored_postings(cand: DataFrame, index: Index) -> DataFrame:
    """The executor BM25 kernel: query-tagged posting blocks (_candidates)
    -> (query_id, doc_id, term, score × weight), one row per posting.
    One vectorized decode per Arrow batch over ALL its block rows (no
    per-row Python — the r01 hot-path fix)."""
    n_docs, avgdl, k1, b = _bm25_params(index)

    def decode_score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["n_in_block"].to_numpy()
            ids, tfs, nrm = codec.decode_blocks_concat(
                pdf["first_doc_id"].to_numpy(), pdf["docid_gaps"],
                counts, pdf["tfs_enc"], pdf["norms_enc"])
            dlq = codec.byte4_to_int(nrm)
            idf = np.repeat(codec.bm25_idf(pdf["df"].to_numpy(), n_docs), counts)
            w = np.repeat(pdf["weight"].to_numpy(), counts)
            yield pd.DataFrame({
                "query_id": np.repeat(pdf["query_id"].to_numpy(), counts),
                "doc_id": ids,
                "term": np.repeat(pdf["term"].to_numpy(), counts),
                "score": idf * codec.bm25_tf_weight(tfs, dlq, avgdl, k1, b) * w})

    return cand.mapInPandas(
        decode_score,
        schema="query_id long, doc_id long, term string, score double")


def _match_scores(index: Index, queries: list[Query]) -> DataFrame:
    """(query_id, doc_id, score, k) for EVERY match of each query: the
    executor kernel's postings summed per (query, doc), kept when the doc
    holds `need` distinct query terms (all of them for mode=and, one for
    or) — read from a broadcast (query_id, need, k) relation, not carried
    on the posting rows."""
    spec = index.postings.sparkSession.createDataFrame(
        [(q.query_id, len(set(q.terms)) if q.mode == "and" else 1, q.k)
         for q in queries], "query_id long, need int, k int")
    agg = (_scored_postings(_candidates(index, queries), index)
           .groupBy("query_id", "doc_id")
           .agg(F.sum("score").alias("score"),
                F.count(F.lit(1)).alias("nt")))
    return (agg.join(F.broadcast(spec), "query_id")
            .where(F.col("nt") >= F.col("need"))
            .select("query_id", "doc_id", "score", "k"))


def _search_distributed(index: Index, queries: list[Query]) -> DataFrame:
    """Distributed strategy: per-query top-k over _match_scores by a window
    rank (Spark pushes a per-partition bounded sort)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (_match_scores(index, queries)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= F.col("k"))
            .select("query_id", "doc_id", "score"))


def search(index: Index, text_or_terms, k: int = 10, mode: str = "or",
           method: str = "auto") -> DataFrame:
    """Single query -> DataFrame(doc_id, score), top-k ordered."""
    hits = search_many(index, [Query(0, _terms(text_or_terms), k, mode)],
                       method=method)
    return hits.select("doc_id", "score").orderBy(F.desc("score"), F.asc("doc_id"))


def fetch(index: Index, hits: DataFrame, verify_sha: bool = True) -> DataFrame:
    """Fetch phase: join winners to the forward index (broadcast the k rows).

    Re-verifies the per-row content sha256 invariant (BASELINE.json)."""
    out = index.docs.join(F.broadcast(hits), "doc_id")
    if verify_sha:
        out = out.withColumn(
            "sha_ok", F.sha2(F.col("content"), 256) == F.col("content_sha"))
    cols = ["doc_id", "score", "repo", "path", "commit", "lang", "content_sha"]
    if verify_sha:
        cols.append("sha_ok")
    return out.select(*cols).orderBy(F.desc("score"), F.asc("doc_id"))


def _per_term_scored(index: Index, terms: list[str]) -> DataFrame:
    """(doc_id, term, score) — one row per matching (doc, clause), the
    shared substrate for the compound scorers below: the executor BM25
    kernel over the de-duplicated terms (weight 1)."""
    cand = _candidates(index, [Query(0, sorted(set(terms)))])
    return _scored_postings(cand, index).select("doc_id", "term", "score")


def search_dis_max(index: Index, text_or_terms, k: int = 10,
                   tie_breaker: float = 0.0) -> DataFrame:
    """dis_max query (SURVEY §2.4 q_dis_max): per-doc score =
    max(clause scores) + tie_breaker · Σ(other clauses).
    Reference: index/query/DisMaxQueryBuilder.java."""
    scored = _per_term_scored(index, _terms(text_or_terms))
    agg = scored.groupBy("doc_id").agg(
        F.max("score").alias("mx"), F.sum("score").alias("sm"))
    score = F.col("mx") + tie_breaker * (F.col("sm") - F.col("mx"))
    return (agg.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def search_constant_score(index: Index, text_or_terms, boost: float = 1.0,
                          mode: str = "or") -> DataFrame:
    """constant_score query (SURVEY §2.5): matching-doc set, score = boost,
    BM25 skipped entirely. Reference: ConstantScoreQueryBuilder.java."""
    hits = _match_scores(index, [Query(0, _terms(text_or_terms), mode=mode)])
    # NO global orderBy: the full match set can be huge and the driver's
    # value hash is order-insensitive (r01 perf finding #5). Consumers
    # that need order sort the (small) slice they take.
    return (hits.select("doc_id", F.lit(float(boost)).alias("score"))
            .sortWithinPartitions("doc_id"))


def search_function_score(index: Index, text_or_terms, k: int = 10,
                          mode: str = "or") -> DataFrame:
    """function_score with a field_value_factor-style modifier (SURVEY
    §2.4 q_function_score): final = bm25 · ln(1 + len(content)/100).
    Reference: index/query/functionscore/FunctionScoreQueryBuilder.java,
    FieldValueFactorFunctionBuilder (modifier=ln1p)."""
    hits = _match_scores(index, [Query(0, _terms(text_or_terms), mode=mode)])
    boosted = (hits.join(index.docs.select("doc_id", "content"), "doc_id")
               .withColumn("score",
                           F.col("score")
                           * F.log(F.lit(1.0) + F.length("content") / 100.0))
               .drop("content"))
    return (boosted.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def search_bool_full(index: Index, plan) -> DataFrame:
    """Full `bool` query (SURVEY §2.4 q_bool_full; BoolQueryBuilder.java):
    must (AND, scored) + filter (AND, unscored) + should (OR, score-add,
    minimum_should_match) + must_not (NOT).

    One pass over the per-term scored relation, then pure DataFrame logic:
    clause weights are broadcast; requirements are enforced with
    conditional distinct counts; must_not is a max-flag anti-filter."""
    all_terms = sorted(set(plan.must) | set(plan.should)
                       | set(plan.must_not) | set(plan.filter))
    spark = index.postings.sparkSession
    if not all_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    scored = _per_term_scored(index, all_terms)

    from collections import Counter
    wm, ws = Counter(plan.must), Counter(plan.should)
    req = sorted(set(plan.must) | set(plan.filter))
    clauses = spark.createDataFrame(
        [(t, float(wm.get(t, 0)), float(ws.get(t, 0)),
          t in set(req), t in set(plan.must_not)) for t in all_terms],
        "term string, w_must double, w_should double, "
        "is_req boolean, is_not boolean")

    j = scored.join(F.broadcast(clauses), "term")
    agg = j.groupBy("doc_id").agg(
        F.sum(F.col("score") * (F.col("w_must") + F.col("w_should")))
        .alias("score"),
        F.count_distinct(F.when(F.col("is_req"), F.col("term")))
        .alias("n_req"),
        F.count_distinct(F.when(F.col("w_should") > 0, F.col("term")))
        .alias("n_should"),
        F.max(F.when(F.col("is_not"), 1).otherwise(0)).alias("has_not"),
    )
    out = agg.where(
        (F.col("n_req") == len(req)) & (F.col("has_not") == 0)
        & (F.col("n_should") >= plan.msm))
    return (out.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(plan.k))


# ---------------------------------------------------------------------------
# Recursive bool-tree execution (plan.parse_tree / parse_query_string)
# ---------------------------------------------------------------------------


def _positions_rel(index: Index) -> DataFrame:
    """(doc_id, pos, term) positional relation derived from the forward
    index — the FALLBACK when the segment carries no positional
    postings (Index.positions is None). Segments built with
    with_positions=True (every store.segment_index segment, and views
    updated from one) never hit this path; see _term_positions_leg."""
    return index.docs.select(
        "doc_id",
        F.posexplode(analysis.tokens_expr(F.col("content"))).alias("pos", "term"))


def _term_positions_leg(index: Index, term: str) -> DataFrame:
    """(doc_id, pos) occurrences of one term, preferring the segment's
    PERSISTED positional postings ([lucene dep] Lucene84PostingsWriter's
    position stream): bucket partition-pruned scan (one bucket dir,
    Index.term_rows) + term predicate pushdown + array explode — never
    a corpus re-tokenize. Falls back to deriving positions from the
    forward index only when the segment was built without them
    (in-memory test segments)."""
    if index.positions is not None:
        return (index.term_rows("positions", [term])
                .select("doc_id", F.explode("poss").alias("pos")))
    return (_positions_rel(index).where(F.col("term") == term)
            .select("doc_id", "pos"))


def _phrase_docs(index: Index, terms: list[str], slop: int) -> DataFrame:
    """doc_ids containing the phrase: chained positional self-joins —
    term i+1 within (pos_i+1 .. pos_i+1+slop), order preserved. Each
    term leg is a pruned positional-postings scan (_term_positions_leg)."""
    cur = (_term_positions_leg(index, terms[0])
           .select("doc_id", F.col("pos").alias("p0")))
    for t in terms[1:]:
        nxt = _term_positions_leg(index, t).select(
            F.col("doc_id").alias("d2"), F.col("pos").alias("p1"))
        cur = (cur.join(nxt,
                        (F.col("doc_id") == F.col("d2"))
                        & (F.col("p1") >= F.col("p0") + 1)
                        & (F.col("p1") <= F.col("p0") + 1 + slop))
               .select("doc_id", F.col("p1").alias("p0")))
    return cur.select("doc_id").distinct()


def search_tree(index: Index, node, k: int = 10) -> DataFrame:
    """Execute a recursive query tree (plan.BoolNode/MatchNode/PhraseNode/
    AttrNode) -> top-k DataFrame(doc_id, score).

    The reference builds an arbitrary QueryBuilder tree
    (index/query/BoolQueryBuilder.java); here every node evaluates to a
    (doc_id, score) relation with ≤1 row per doc, and a bool node is one
    union + groupBy over its tagged children — pure Catalyst plans, no
    per-row Python. All leaf BM25 contributions come from ONE
    _per_term_scored pass over the union of the tree's terms."""
    from . import plan as pplan

    spark = index.postings.sparkSession
    all_terms = sorted(pplan.tree_terms(node))
    scored = (_per_term_scored(index, all_terms) if all_terms
              else spark.createDataFrame([], "doc_id long, term string, score double"))

    def eval_node(n) -> DataFrame:
        if isinstance(n, pplan.MatchNode):
            return (scored.where(F.col("term").isin(n.terms))
                    .groupBy("doc_id").agg(F.sum("score").alias("score")))
        if isinstance(n, pplan.PhraseNode):
            docs = _phrase_docs(index, n.terms, n.slop)
            sc = (scored.where(F.col("term").isin(n.terms))
                  .groupBy("doc_id").agg(F.sum("score").alias("score")))
            return docs.join(sc, "doc_id")
        if isinstance(n, pplan.AttrNode):
            return (index.docs.where(F.col(n.field) == n.value)
                    .select("doc_id", F.lit(0.0).alias("score")))
        assert isinstance(n, pplan.BoolNode)
        tagged = []
        for kind in ("must", "should", "must_not", "filter"):
            for cid, sub in enumerate(getattr(n, kind)):
                tagged.append(
                    eval_node(sub).select(
                        "doc_id", "score",
                        F.lit(kind).alias("kind"),
                        F.lit(f"{kind}:{cid}").alias("cid")))
        if not any((n.must, n.should, n.filter)):
            # no positive clause: candidate universe is all docs (ES: an
            # empty/must_not-only bool matches everything [minus must_not])
            tagged.append(index.docs.select(
                "doc_id", F.lit(0.0).alias("score"),
                F.lit("seed").alias("kind"), F.lit("seed:0").alias("cid")))
        u = tagged[0]
        for t_ in tagged[1:]:
            u = u.unionByName(t_)
        eff_msm = n.msm if n.should else 0
        agg = u.groupBy("doc_id").agg(
            F.sum(F.when(F.col("kind").isin("must", "should"),
                         F.col("score")).otherwise(0.0)).alias("score"),
            F.count_distinct(F.when(F.col("kind") == "must", F.col("cid")))
            .alias("n_must"),
            F.count_distinct(F.when(F.col("kind") == "filter", F.col("cid")))
            .alias("n_filter"),
            F.count_distinct(F.when(F.col("kind") == "should", F.col("cid")))
            .alias("n_should"),
            F.max(F.when(F.col("kind") == "must_not", 1).otherwise(0))
            .alias("has_not"))
        return (agg.where((F.col("n_must") == len(n.must))
                          & (F.col("n_filter") == len(n.filter))
                          & (F.col("n_should") >= eff_msm)
                          & (F.col("has_not") == 0))
                .select("doc_id", "score"))

    out = eval_node(node)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_query_string(index: Index, qs: str, k: int = 10) -> DataFrame:
    """query_string front-end: mini-language -> tree -> search_tree.
    Reference: index/query/QueryStringQueryBuilder.java."""
    from . import plan as pplan

    return search_tree(index, pplan.parse_query_string(qs), k=k)


def search_multi_match(field_indexes: dict[str, "Index"],
                       text: str, k: int = 10, match_type: str = "best_fields",
                       tie_breaker: float = 0.0,
                       boosts: dict[str, float] | None = None) -> DataFrame:
    """multi_match across fields, each field its own index (its own
    df/dl/avgdl statistics — exactly ES's per-field BM25).

    best_fields -> dis_max over per-field scores (max + tie_breaker·rest);
    most_fields -> sum of per-field scores.
    Reference: index/query/MultiMatchQueryBuilder.java (types
    BEST_FIELDS / MOST_FIELDS over per-field match queries)."""
    boosts = boosts or {}
    terms = sorted(set(analysis.analyze(text)))
    per_field = []
    for fname, fidx in field_indexes.items():
        w = float(boosts.get(fname, 1.0))
        rel = (_per_term_scored(fidx, terms)
               .groupBy("doc_id")
               .agg((F.sum("score") * w).alias("fscore")))
        per_field.append(rel)
    u = per_field[0]
    for rel in per_field[1:]:
        u = u.unionByName(rel)
    agg = u.groupBy("doc_id").agg(
        F.max("fscore").alias("mx"), F.sum("fscore").alias("sm"))
    if match_type == "best_fields":
        score = F.col("mx") + tie_breaker * (F.col("sm") - F.col("mx"))
    elif match_type == "most_fields":
        score = F.col("sm")
    else:
        raise ValueError(match_type)
    return (agg.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def search_boosting(index: Index, positive: str, negative: str,
                    negative_boost: float = 0.5, k: int = 10) -> DataFrame:
    """boosting query (index/query/BoostingQueryBuilder.java): candidates
    and scores come from the positive query; docs that ALSO match the
    negative query keep their score × negative_boost (demotion, not
    exclusion — the difference from bool.must_not)."""
    pos_terms = sorted(set(analysis.analyze(positive)))
    neg_terms = sorted(set(analysis.analyze(negative)))
    spark = index.postings.sparkSession
    if not pos_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    pos = (_per_term_scored(index, pos_terms)
           .groupBy("doc_id").agg(F.sum("score").alias("score")))
    if neg_terms:
        neg = (_per_term_scored(index, neg_terms)
               .select("doc_id").distinct()
               .withColumn("neg", F.lit(1)))
        pos = (pos.join(neg, "doc_id", "left")
               .withColumn("score",
                           F.when(F.col("neg") == 1,
                                  F.col("score") * negative_boost)
                           .otherwise(F.col("score")))
               .drop("neg"))
    return (pos.orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def _decay_factor(kind: str, x, origin: float, scale: float,
                  offset: float, decay: float):
    """Column expression for ES's decay curves (DecayFunctionBuilder):
    distance = max(0, |x − origin| − offset), then
      gauss:  exp(−dist² / 2σ²),  σ² = −scale² / (2·ln decay)
      exp:    exp(λ·dist),        λ  = ln(decay) / scale
      linear: max(0, (s − dist)/s),  s = scale / (1 − decay)
    so that decay(origin ± (offset+scale)) == `decay` for every kind."""
    import math

    dist = F.greatest(F.lit(0.0), F.abs(x - F.lit(float(origin)))
                      - F.lit(float(offset)))
    if kind == "gauss":
        sigma2 = -scale * scale / (2.0 * math.log(decay))
        return F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
    if kind == "exp":
        lam = math.log(decay) / scale
        return F.exp(F.lit(lam) * dist)
    if kind == "linear":
        s = scale / (1.0 - decay)
        return F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
    raise ValueError(kind)


def search_function_score_decay(index: Index, text_or_terms, kind: str,
                                *, origin: float, scale: float,
                                offset: float = 0.0, decay: float = 0.5,
                                k: int = 10, mode: str = "or") -> DataFrame:
    """function_score with a decay function over a numeric doc feature
    (here: len(content) chars — the forward-index numeric the corpus
    carries). final = bm25 · decay(len). Reference:
    index/query/functionscore/DecayFunctionBuilder.java (GaussDecay /
    ExponentialDecay / LinearDecay)."""
    hits = _match_scores(index, [Query(0, _terms(text_or_terms), mode=mode)])
    feat = index.docs.select(
        "doc_id", F.length("content").cast("double").alias("_x"))
    boosted = (hits.join(feat, "doc_id")
               .withColumn("score",
                           F.col("score") * _decay_factor(
                               kind, F.col("_x"), origin, scale, offset, decay))
               .drop("_x"))
    return (boosted.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def search_random_score(index: Index, text_or_terms, seed: int = 42,
                        k: int = 10, mode: str = "or") -> DataFrame:
    """function_score random_score (RandomScoreFunctionBuilder): a
    DETERMINISTIC per-(seed, doc) uniform score in [0,1) — reproducible
    sampling of the match set. ES hashes seed+doc _id; here the portable
    equivalent: first 8 hex chars of md5('<seed>:<doc_id>') / 2^32 —
    identical arithmetic in the DuckDB oracle."""
    hits = _match_scores(index, [Query(0, _terms(text_or_terms), mode=mode)])
    r = (F.conv(F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)),
                              F.col("doc_id").cast("string"))), 1, 8),
         16, 10).cast("double") / F.lit(4294967296.0))
    return (hits.select("doc_id", r.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def search_multi_match_cross(field_indexes: dict[str, "Index"],
                             text: str, k: int = 10,
                             boosts: dict[str, float] | None = None
                             ) -> DataFrame:
    """multi_match type=cross_fields (MultiMatchQueryBuilder Type
    CROSS_FIELDS / [lucene dep] BlendedTermQuery): term-centric blending —
    each term's df is BLENDED as max over fields, each field's tf
    normalization keeps its own dl/avgdl, and per (doc, term) the best
    field wins (max), then terms sum. Per-field contribs come from the
    posting lists (_per_term_scored) and are rescaled from the field idf
    to the blended idf — a pure per-term scalar (vocab-grain driver
    lookup via the term-dictionary cache, zero extra shuffles)."""
    boosts = boosts or {}
    terms = sorted(set(analysis.analyze(text)))
    idxs = list(field_indexes.values())
    spark = idxs[0].postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    n_docs = idxs[0].stats.n_docs
    field_df = {fname: term_meta(fidx, terms)
                for fname, fidx in field_indexes.items()}
    df_blend = {t: max(field_df[f][t] for f in field_indexes)
                for t in terms}
    per_field = []
    for fname, fidx in field_indexes.items():
        w = float(boosts.get(fname, 1.0))
        present = [t for t in terms if field_df[fname][t] > 0]
        if not present:
            continue
        scored = _per_term_scored(fidx, present)
        # contrib = idf_field · tfnorm  →  rescale to blended idf
        # (scored only ever contains `present` terms, base 0.0 unreachable)
        scale = F.lit(0.0)
        for t in present:
            idf_f = float(codec.bm25_idf(field_df[fname][t], n_docs))
            idf_b = float(codec.bm25_idf(df_blend[t], n_docs))
            scale = (F.when(F.col("term") == t, F.lit(w * idf_b / idf_f))
                     .otherwise(scale))
        per_field.append(scored.select(
            "doc_id", "term", (F.col("score") * scale).alias("fscore")))
    if not per_field:  # no query term present in ANY field index
        return spark.createDataFrame([], "doc_id long, score double")
    u = per_field[0]
    for rel in per_field[1:]:
        u = u.unionByName(rel)
    per_term = u.groupBy("doc_id", "term").agg(F.max("fscore").alias("ts"))
    return (per_term.groupBy("doc_id").agg(F.sum("ts").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def search_fuzzy(index: Index, term: str, max_dist: int = 2,
                 max_expansions: int = 10, k: int = 10) -> DataFrame:
    """fuzzy query (index/query/FuzzyQueryBuilder.java / [lucene dep]
    FuzzyQuery): the query term expands against the TERMS DICTIONARY to
    every vocab term within `max_dist` edits (Lucene walks a Levenshtein
    automaton over the terms dict; the relational analog is a vocab-grain
    scan — term_stats, not postings), capped at `max_expansions` ranked
    (distance asc, term asc). Each expansion scores BM25 weighted by
    1 − dist/len(query) (FuzzyQuery's similarity boost), summed per doc.
    The expansion itself is a ≤max_expansions-row driver collect — the
    coordinator-side rewrite, exactly where ES does it."""
    spark = index.postings.sparkSession
    exp = (index.term_stats.select("term")
           .withColumn("dist", F.levenshtein("term", F.lit(term)))
           .where(F.col("dist") <= max_dist)
           .orderBy(F.asc("dist"), F.asc("term"))
           .limit(max_expansions).collect())
    if not exp:
        return spark.createDataFrame([], "doc_id long, score double")
    weights = {r["term"]: 1.0 - r["dist"] / float(len(term)) for r in exp}
    scored = _per_term_scored(index, sorted(weights))
    w = F.lit(0.0)
    for t, wt in weights.items():
        w = F.when(F.col("term") == t, F.lit(wt)).otherwise(w)
    agg = (scored.withColumn("c", F.col("score") * w)
           .groupBy("doc_id").agg(F.sum("c").alias("score")))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _decoded_ids(cand: DataFrame) -> DataFrame:
    """The executor docID-only kernel: posting blocks -> (doc_id, term),
    one row per posting (counting and constant-score rewrites)."""
    return (cand.select("term", "first_doc_id", "docid_gaps", "n_in_block")
            .mapInPandas(lambda batches: (_ids_pd(p) for p in batches if len(p)),
                         schema="doc_id long, term string"))


def _multi_term_rewrite(index: Index, term_pred,
                        max_expansions: int) -> DataFrame:
    """Shared multi-term-query rewrite ([lucene dep] MultiTermQuery,
    CONSTANT_SCORE_REWRITE): expand `term_pred` (a Column predicate)
    against the TERMS DICTIONARY — a vocab-grain term_stats scan, never
    postings — then decode docID gaps only for the expanded term set
    (no tf/norm decode, no BM25; every matching doc scores the query
    boost 1.0). The expansion is a <= max_expansions-row driver collect
    (term asc, deterministic) — the coordinator-side rewrite, exactly
    where ES does it."""
    exp = (index.term_stats.select("term")
           .where(term_pred)
           .orderBy(F.asc("term")).limit(max_expansions).collect())
    terms = sorted(r["term"] for r in exp)
    if not terms:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, score double")
    return (_decoded_ids(index.term_rows("postings", terms)).select("doc_id")
            .distinct().withColumn("score", F.lit(1.0)).orderBy("doc_id"))


def search_wildcard(index: Index, pattern: str,
                    max_expansions: int = 128) -> DataFrame:
    """wildcard query (index/query/WildcardQueryBuilder.java / [lucene dep]
    WildcardQuery): `pattern` uses * (any run) and ? (single char); Lucene
    walks an automaton over the terms dict — here a LIKE predicate on the
    vocab scan. A leading literal prefix keeps it range-prunable."""
    like = (pattern.replace("\\", "\\\\").replace("%", "\\%")
            .replace("_", "\\_").replace("*", "%").replace("?", "_"))
    return _multi_term_rewrite(index, F.col("term").like(like),
                               max_expansions)


def search_prefix(index: Index, prefix: str,
                  max_expansions: int = 128) -> DataFrame:
    """prefix query (index/query/PrefixQueryBuilder.java / [lucene dep]
    PrefixQuery): the degenerate wildcard `prefix*` — a pure range scan
    of the terms dictionary (Lucene seeks the terms-dict to the prefix
    and iterates; the vocab predicate here is sargable the same way)."""
    return _multi_term_rewrite(index, F.col("term").startswith(prefix),
                               max_expansions)


def search_regexp(index: Index, pattern: str,
                  max_expansions: int = 128) -> DataFrame:
    """regexp query (index/query/RegexpQueryBuilder.java / [lucene dep]
    RegexpQuery): Lucene regexps are ANCHORED — the pattern must match
    the WHOLE term — so the vocab predicate is rlike with ^...$."""
    return _multi_term_rewrite(
        index, F.col("term").rlike(f"^(?:{pattern})$"), max_expansions)


def count_matches(index: Index, text_or_terms, mode: str = "or") -> int:
    """_count analog ([lucene dep] TotalHitCountCollector): decodes docID
    gaps ONLY — no tf/norm decode and no BM25 arithmetic (r01 perf
    finding: the old path scored every candidate just to count it).
    Selective queries decode on the driver over the one driver-side block
    read (no Spark job on a committed segment); past LOCAL_MAX_POSTINGS
    the executor docID kernel counts."""
    uniq = sorted(set(_terms(text_or_terms)))
    if not uniq:
        return 0
    if _estimate_postings(index, [Query(0, uniq)]) <= LOCAL_MAX_POSTINGS:
        ids = _ids_pd(_local_blocks_pandas(index, uniq))["doc_id"].to_numpy()
        # a doc holds each term at most once: its row count = terms matched
        _, n = np.unique(ids, return_counts=True)
        return int((n == len(uniq)).sum()) if mode == "and" else len(n)
    rel = _decoded_ids(index.term_rows("postings", uniq))
    if mode == "and":
        return (rel.groupBy("doc_id")
                .agg(F.count_distinct("term").alias("nt"))
                .where(F.col("nt") == len(uniq)).count())
    return rel.select("doc_id").distinct().count()
