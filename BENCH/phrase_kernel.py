"""The coordinator phrase path stage by stage: perfbench's phrase pairs
replayed through phrase._phrase_pair on perfbench's committed segment.

    python3 BENCH/phrase_kernel.py [--workload hot selective] [--seed 305]
                                   [--slop 0 2] [--reps 7]

Run it from any checkout: it imports the pysearch package beside this
BENCH/ directory, and the corpus, the phrase pairs and the oracle answers
come from that checkout's perfbench/inputs.py and gate.py. Spark runs at
local[nproc] with nproc shuffle partitions, like perfbench.

Each call of a pair is split into four stages, timed per call (p50 over
--reps calls of every pair, the absent pairs included):

  read        phrase._pair_rows_pandas (pyarrow read of both legs)
  kernel      the rest of building the frame: the per-doc intersection
              (whatever the checkout names it)
  local_frame exec.local_frame (pandas -> Arrow -> createDataFrame)
  collect     DataFrame.collect()

Slop 0 answers are checked against perfbench's oracle answers, slop > 0
against a banded count over the same token streams. The last table is
the py4j split of the slop-0 calls: every command the driver sends to the
JVM, by target and method, with its round-trip time, as a mean per call.
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


def _banded(tokens: dict[int, list[str]], t0: str, t1: str, slop: int):
    """(doc_id, n) doc_id ascending: t0 at i and t1 at i+1..i+1+slop."""
    out = []
    for d in sorted(tokens):
        toks = tokens[d]
        n = sum(toks[j] == t1 for i, t in enumerate(toks) if t == t0
                for j in range(i + 1, min(i + 2 + slop, len(toks))))
        if n:
            out.append((d, n))
    return out


class _Stages:
    """Wraps phrase._pair_rows_pandas and phrase.local_frame with timers;
    one `call` times the four stages of one phrase query."""

    def __init__(self):
        from pysearch import phrase

        self.phrase, self.t = phrase, {}
        self._real = {n: getattr(phrase, n)
                      for n in ("_pair_rows_pandas", "local_frame")}
        for name, fn in self._real.items():
            setattr(phrase, name, self._timed(name, fn))

    def _timed(self, name, fn):
        def wrapper(*args, **kw):
            t = time.perf_counter()
            try:
                return fn(*args, **kw)
            finally:
                self.t[name] = (time.perf_counter() - t) * 1e3
        return wrapper

    def call(self, spark, corpus, t0, t1, slop):
        self.t = {}
        t = time.perf_counter()
        df = self.phrase._phrase_pair(t0, t1, slop)(spark, corpus)
        build = (time.perf_counter() - t) * 1e3
        t = time.perf_counter()
        rows = [(int(r["doc_id"]), int(r["n_occurrences"])) for r in df.collect()]
        collect = (time.perf_counter() - t) * 1e3
        read = self.t.get("_pair_rows_pandas", 0.0)
        frame = self.t.get("local_frame", 0.0)
        return rows, {"read": read, "kernel": build - read - frame,
                      "local_frame": frame, "collect": collect,
                      "total": build + collect}

    def restore(self):
        for name, fn in self._real.items():
            setattr(self.phrase, name, fn)


def _py4j_split(call) -> dict[str, list[float]]:
    """label -> [calls, ms] of the py4j commands `call()` sends."""
    from py4j import clientserver

    real = clientserver.ClientServerConnection.send_command
    split: dict[str, list[float]] = {}

    def timed(conn, command):
        # py4j protocol: a command letter, then its lines; c = call
        # (target, method), r = class lookup by name, others (m: release
        # a Java object, a: array access) by their letter and sub-command
        lines = command.split("\n")
        if lines[0] == "c":
            target = lines[1][2:].rsplit(".", 1)[-1] if lines[1].startswith("z:") \
                else "obj"
            label = f"{target}.{lines[2]}"
        elif lines[0] == "r":
            label = f"lookup {lines[2]}"
        else:
            label = f"{lines[0]} {lines[1]}"
        t = time.perf_counter()
        try:
            return real(conn, command)
        finally:
            rec = split.setdefault(label, [0, 0.0])
            rec[0] += 1
            rec[1] += (time.perf_counter() - t) * 1e3

    clientserver.ClientServerConnection.send_command = timed
    try:
        call()
    finally:
        clientserver.ClientServerConnection.send_command = real
    return split


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="+", default=["hot", "selective"])
    ap.add_argument("--seed", type=int, default=305)
    ap.add_argument("--slop", type=int, nargs="+", default=[0, 2])
    ap.add_argument("--reps", type=int, default=7)
    args = ap.parse_args()

    import inputs
    from pysearch import store
    from pysearch import exec as pexec
    from pysearch.session import get_spark

    nproc = os.cpu_count()
    spark = get_spark(cores=nproc, shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    stages = _Stages()
    try:
        for workload in args.workload:
            with tempfile.TemporaryDirectory() as corpus:
                inp, expected = inputs.prepare(workload, args.seed, corpus, False)
                idx = store.segment_index(spark, corpus)
                pexec.term_meta(idx, ["_"])           # warm the dictionary
                pairs = list(inp.phrases) + list(inp.absent_phrases)
                for slop in args.slop:
                    times: dict[str, list[float]] = {}
                    wrong, hits = [], 0
                    for pair in pairs:
                        want = (expected["phrase"][pair] if slop == 0
                                else _banded(inp.tokens, *pair, slop))
                        stages.call(spark, corpus, *pair, slop)   # warm
                        for _ in range(args.reps):
                            rows, t = stages.call(spark, corpus, *pair, slop)
                            for k, v in t.items():
                                times.setdefault(k, []).append(v)
                        hits += len(rows)
                        if rows != want:
                            wrong.append(pair)
                    p50 = {k: statistics.median(v) for k, v in times.items()}
                    print(f"{workload} slop {slop}: {len(pairs)} pairs, "
                          f"{hits} hit rows, p50 ms: "
                          + ", ".join(f"{k} {v:.2f}" for k, v in p50.items())
                          + f"; {len(wrong)} wrong {wrong[:3]}")
                split = _py4j_split(lambda: [
                    stages.call(spark, corpus, *pair, 0) for pair in pairs])
                n = len(pairs)
                print(f"{workload} py4j split, mean per slop-0 call over "
                      f"{n} pairs: {sum(c for c, _ in split.values()) / n:.1f} "
                      f"commands, {sum(ms for _, ms in split.values()) / n:.2f} ms")
                for label, (calls, ms) in sorted(split.items(),
                                                 key=lambda kv: -kv[1][1]):
                    print(f"  {label:<48} {calls / n:4.1f} calls {ms / n:6.2f} ms")
    finally:
        stages.restore()
        spark.stop()


if __name__ == "__main__":
    main()
