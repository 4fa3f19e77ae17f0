"""Executed plans, Spark job counts and latency of the coordinator result
paths: exec.search(...).collect(), versioning.search_view(...).collect()
over a view with one delete, and phrase._phrase_pair(...)(...).collect()
at slop 0 and 2, on perfbench's committed segment.

    python3 BENCH/result_plans.py [--workload hot] [--seed 305] [--reps 7]

Run it from any checkout: it imports the pysearch package beside this
BENCH/ directory, and the corpus and queries come from that checkout's
perfbench/inputs.py (one seeded datagen corpus, the first query of each
family of the read stream, the first two phrase pairs). Spark runs at
local[nproc] with nproc shuffle partitions, like perfbench. Prints, per
path, the executed plan's operator names, the jobs one warm collect()
schedules (status tracker), and the median of --reps warm collect()s.
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


def _operators(df) -> list[str]:
    """Operator names of the executed plan, depth-first."""
    plan = df._jdf.queryExecution().executedPlan()
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.length() - 1, -1, -1))
        # AQE keeps the final plan and each query stage's plan aside
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif node.nodeName().endswith("QueryStage"):
            stack.append(node.plan())
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="hot")
    ap.add_argument("--seed", type=int, default=305)
    ap.add_argument("--reps", type=int, default=7)
    args = ap.parse_args()

    import inputs
    from pysearch import phrase, store, versioning
    from pysearch import exec as pexec
    from pysearch.session import get_spark

    nproc = os.cpu_count()
    with tempfile.TemporaryDirectory() as corpus:
        inp, _ = inputs.prepare(args.workload, args.seed, corpus, False)
        spark = get_spark(cores=nproc, shuffle_partitions=nproc)
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        idx = store.segment_index(spark, corpus)
        first = {}
        for q in inp.stream:
            first.setdefault(q.family, q)
        view = versioning.delete_doc(versioning.open_view(idx),
                                     inp.lifecycle[0]["doc_id"])
        view_text = inp.lifecycle[0]["reads"][-1]
        paths = {f"search[{fam}]": (lambda q=q: pexec.search(idx, q.text, k=q.k,
                                                            mode=q.mode))
                 for fam, q in first.items()}
        paths["search_view"] = lambda: versioning.search_view(view, view_text, k=10)
        for t0, t1 in inp.phrases[:2]:
            for slop in (0, 2):
                paths[f"phrase[{t0} {t1}, slop {slop}]"] = (
                    lambda t0=t0, t1=t1, slop=slop:
                    phrase._phrase_pair(t0, t1, slop)(spark, corpus))
        for name, make in paths.items():
            make().collect()                               # warm
            before = len(sc.statusTracker().getJobIdsForGroup(None))
            df = make()
            rows = df.collect()
            jobs = len(sc.statusTracker().getJobIdsForGroup(None)) - before
            times = []
            for _ in range(args.reps):
                t = time.perf_counter()
                make().collect()
                times.append((time.perf_counter() - t) * 1e3)
            print(f"{name}: {len(rows)} rows, {jobs} jobs, "
                  f"p50 {statistics.median(times):.1f} ms")
            print("  " + " <- ".join(_operators(df)))
        spark.stop()


if __name__ == "__main__":
    main()
