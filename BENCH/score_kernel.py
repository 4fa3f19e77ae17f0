"""Coordinator scoring in isolation: perfbench's read stream and batch
replayed through exec._score_blocks_pd over blocks read once beforehand,
on perfbench's committed segment.

    python3 BENCH/score_kernel.py [--workload hot selective] [--seed 305]
                                  [--reps 5] [--batch-reps 3]

Run it from any checkout: it imports the pysearch package beside this
BENCH/ directory, and the corpus, the queries and the oracle answers come
from that checkout's perfbench/inputs.py and gate.py. Spark runs at
local[nproc] with nproc shuffle partitions, like perfbench; it only builds
and commits the segment (the block reads are pyarrow, the scoring numpy).

Per workload it prints, for the stream (one query per call, as
search_interactive scores it) and for the whole batch (one call, as a
local search_many scores it, whatever the strategy caps say): the block
rows read, the block rows and postings decoded (codec.decode_blocks_concat
calls), the hit rows returned, the scoring p50 over --reps calls per query
(the stream) or --batch-reps calls (the batch), and the queries whose hits
are not rank-identical to the oracle within perfbench's gate tolerance.
"""

import argparse
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def _hits_by_query(hits) -> dict[int, list]:
    out: dict[int, list] = {}
    for qid, d, s in zip(hits["query_id"], hits["doc_id"], hits["score"]):
        out.setdefault(int(qid), []).append((int(d), float(s)))
    return out


def _replay(idx, specs, calls: int, batch: bool, expected) -> dict:
    """Score `specs` (one call each, or one call for all with batch=True)
    `calls` times; the decode counters of the last call."""
    import gate
    from pysearch import analysis, codec
    from pysearch import exec as pexec

    queries = [pexec.Query(i, analysis.analyze(s.text), s.k, s.mode)
               for i, s in enumerate(specs)]
    queries = [q for q in queries if q.terms]
    groups = [queries] if batch else [[q] for q in queries]
    reads = [pexec._local_blocks_pandas(
        idx, sorted({t for q in g for t in q.terms})) for g in groups]

    decoded = {"blocks": 0, "postings": 0}
    real = codec.decode_blocks_concat

    def counting(*args, **kw):
        decoded["blocks"] += len(args[0])
        decoded["postings"] += int(sum(args[2]))
        return real(*args, **kw)

    times, hits = [], {}
    for rep in range(calls):
        codec.decode_blocks_concat = counting if rep == calls - 1 else real
        try:
            for g, blocks in zip(groups, reads):
                t = time.perf_counter()
                out = pexec._score_blocks_pd(idx, blocks, g)
                times.append((time.perf_counter() - t) * 1e3)
                hits.update(_hits_by_query(out))
        finally:
            codec.decode_blocks_concat = real
    wrong = [q.query_id for q in queries if gate.check_topk(
        hits.get(q.query_id, []),
        expected["topk"][(specs[q.query_id].text, q.k, q.mode)])]
    return {"queries": len(queries), "rows_read": sum(len(b) for b in reads),
            **decoded, "hits": sum(len(h) for h in hits.values()),
            "p50_ms": statistics.median(times), "wrong": wrong}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="+", default=["hot", "selective"])
    ap.add_argument("--seed", type=int, default=305)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--batch-reps", type=int, default=3)
    args = ap.parse_args()

    import inputs
    from pysearch import store
    from pysearch import exec as pexec
    from pysearch.session import get_spark

    nproc = os.cpu_count()
    spark = get_spark(cores=nproc, shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for workload in args.workload:
            with tempfile.TemporaryDirectory() as corpus:
                inp, expected = inputs.prepare(workload, args.seed, corpus, False)
                idx = store.segment_index(spark, corpus)
                pexec.term_meta(idx, ["_"])           # warm the dictionary
                for name, specs, calls, batch in (
                        ("stream", inp.stream, args.reps, False),
                        ("batch", inp.batch, args.batch_reps, True)):
                    r = _replay(idx, specs, calls, batch, expected)
                    print(f"{workload} {name}: {r['queries']} queries, "
                          f"{r['rows_read']} block rows read, "
                          f"{r['blocks']} decoded ({r['postings']} postings), "
                          f"{r['hits']} hits, scoring p50 {r['p50_ms']:.2f} ms, "
                          f"{len(r['wrong'])} not rank-identical {r['wrong'][:5]}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
