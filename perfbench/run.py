#!/usr/bin/env python3
"""pysearch benchmark: one seeded, oracle-checked run of one workload.

    python3 perfbench/run.py --workload selective --seed 1 --seconds 5 --trace 0

Run from the root of a checkout (the directory holding ``pysearch/``).
Spark runs at ``local[nproc]`` with ``nproc`` shuffle partitions. Every run
is one closed loop -- one client thread in one process -- over one
committed segment:

1. inputs: a seeded synthetic code corpus (``inputs.py``), written as a
   ``documents.parquet`` in the driver-table shape, the query texts and
   the oracle answers (``gate.expected``), made before Spark starts; they
   do not count as set-up;
2. set-up (``setup_s``): Spark start, ``store.segment_index`` (build with
   positions, commit, reopen), then every query family once and one
   round of the read mix, checked but in no read metric;
3. reads: rounds of the same mix of single queries through
   ``exec.search_interactive``, ``exec.search(...).collect()``, the phrase
   pair query and ``search_view`` reads of a view with one
   ``versioning.delete_doc`` (``Run.round``), for at least ``--seconds``
   and at least ``MIN_ROUNDS`` rounds;
4. traced runs only (time that every run cannot afford): full
   ``exec.search_many`` batches in the read rounds, and the lifecycle --
   ``versioning.update_doc`` and reads of the merged view, then
   ``compact`` + ``write_index`` + ``load_index``;
5. gate: every answer is checked against the oracle answers of step 1
   (``gate.py``).

Workloads differ in the document-frequency band the query terms come from
(``selective``: df <= median, ``hot``: df >= N/2). That moves the read path
between selective reads and Zipf-head decode, and the batch strategy
between the coordinator (local) path and the executor (gather) path.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics, or with ``--trace 1``
the per-layer metrics of a traced run (``layers.py``). The line before it
records the environment. Scratch files live under ``.perfbench/`` in the
checkout and are removed at exit, except the span dump of traced runs.
"""

from __future__ import annotations

import argparse
import functools
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the read loop runs at least this many rounds
MIN_ROUNDS = 4
#: traced runs: a full batch every N rounds of the read loop, the
#: selective batch (~0.9 s, mostly fixed cost) every round, the hot batch
#: (~5 s) once; untraced runs run the set-up slice only, whose answer is
#: checked like the others
BATCH_EVERY = {"selective": 1, "hot": MIN_ROUNDS}
#: search_view reads per round
VIEW_READS = 4
#: phrase pair queries per round
PHRASES = 2
#: the batch slice set-up runs, through the strategy the full batch takes
WARM_BATCH = 8


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    rank = -(-len(s) * q // 100)
    return s[max(1, int(rank)) - 1]


def quartile_summary(values: list[float]) -> list[float]:
    """min, nearest-rank quartiles and max of a non-empty sample."""
    return [min(values), percentile(values, 25), percentile(values, 50),
            percentile(values, 75), max(values)]


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not in /proc/self/status")


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat (user nice system idle iowait
    irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def pin_environment(work: str, trace: bool) -> dict:
    """Environment knobs the program already reads, plus Spark's own
    configuration through PYSPARK_SUBMIT_ARGS: console progress off,
    scratch and shuffle inside the checkout, and (traced) the event log."""
    nproc = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # -XX:-UsePerfData: no JVM writes /tmp/hsperfdata_<user>
    conf = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    evdir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(evdir, exist_ok=True)
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{evdir}"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYSEARCH_DRIVER_MEM": "2g",
        "PYSEARCH_SHM_SHUFFLE": "0",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join(conf + ["pyspark-shell"]),
    })
    import tempfile

    tempfile.tempdir = tmp
    return {"nproc": nproc, "driver_mem": os.environ["PYSEARCH_DRIVER_MEM"],
            "shuffle_partitions": nproc, "shuffle_dir": local, "tmp_dir": tmp,
            "event_log_dir": evdir if trace else None}


def start_spark(workload: str, nproc: int):
    """The SparkSession at local[nproc], nproc shuffle partitions."""
    from pysearch.session import get_spark

    spark = get_spark(cores=nproc, app=f"perfbench-{workload}",
                      shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin (the parent-alive pipe) closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- never leave the JVM running
            proc.kill()
            proc.wait()


class Run:
    """One workload run: inputs, Spark session, segment, recorded answers."""

    def __init__(self, args, env: dict, inp, expected: dict, corpus_dir: str,
                 spark, spark_start_s: float):
        self.args, self.env, self.inp, self.expected = args, env, inp, expected
        self.corpus_dir = corpus_dir
        self.texts = {d["doc_id"]: d["content"] for d in inp.docs}
        self.spark, self.spark_start_s = spark, spark_start_s
        self.phase_s: dict[str, float] = {}
        self.idx = None
        self.view = None
        self.compacted = None
        self.answers: list[tuple] = []      # (kind, key, answer)
        self.lat: dict[str, list[float]] = {}
        self.lat_by_family: dict[str, list[float]] = {}
        self.tracer = None
        self.attempted = 0
        self.errors: list[str] = []

    def timed(self, kind: str, fn):
        """Run one client operation; record its latency under ``kind``
        and, when tracing, a root span named op.<kind>. A raised error is
        a failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span("op." + kind):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # noqa: BLE001 -- counted, the run goes on
            self.errors.append(f"{kind}: {type(e).__name__}: {e}")
            return None
        self.lat.setdefault(kind, []).append((time.perf_counter() - t0) * 1e3)
        return out

    def client_span(self, name: str):
        """A span opened by the client inside an operation (traced runs)."""
        import contextlib

        return (self.tracer.span(name) if self.tracer is not None
                else contextlib.nullcontext())

    # -- program calls ------------------------------------------------------
    def _search(self, q):
        from pysearch import exec as pexec

        rows = pexec.search(self.idx, q.text, k=q.k, mode=q.mode).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def _interactive(self, q):
        from pysearch import exec as pexec

        pdf = pexec.search_interactive(self.idx, q.text, k=q.k, mode=q.mode)
        return [(int(d), float(s)) for d, s in zip(pdf["doc_id"], pdf["score"])]

    def _count(self, text, mode):
        from pysearch import exec as pexec

        return int(pexec.count_matches(self.idx, text, mode=mode))

    def _phrase(self, t0, t1):
        from pysearch import phrase

        rows = phrase._phrase_pair(t0, t1, 0)(self.spark, self.corpus_dir).collect()
        return [(int(r["doc_id"]), int(r["n_occurrences"])) for r in rows]

    def _view_read(self, view, text):
        from pysearch import versioning

        return [(int(r["doc_id"]), float(r["score"]))
                for r in versioning.search_view(view, text, k=10).collect()]

    def _batch(self, n: int | None = None, method: str = "auto"):
        from pysearch import analysis
        from pysearch import exec as pexec

        qs = [pexec.Query(i, analysis.analyze(q.text), q.k, q.mode)
              for i, q in enumerate(self.inp.batch[:n])]
        rows = pexec.search_many(self.idx, qs, method=method).collect()
        return [(int(r["query_id"]), int(r["doc_id"]), float(r["score"]))
                for r in rows]

    # -- phases -------------------------------------------------------------
    def setup(self) -> None:
        """setup_s = Spark start + segment build/commit/reopen + one call of
        every family + one round of the read mix, each checked but in no
        read metric (the input generation before the Spark start is not
        counted). The absent-term and stopword-only queries, the absent
        phrase pairs and a slice of the batch also run here."""
        import inputs
        from pysearch import store, versioning

        t0 = time.perf_counter()
        with self.client_span("setup.segment_index"):
            self.idx = store.segment_index(self.spark, self.corpus_dir)
        self.segment_s = time.perf_counter() - t0
        inp = self.inp
        first = {}
        for q in inp.stream + inp.stopword_queries:
            first.setdefault(q.family, q)
        for q in first.values():
            self.record("topk", (q.text, q.k, q.mode), "warm.interactive",
                        lambda: self._interactive(q))
        for fam in ("or5", "and4", "absent"):
            q = first[fam]
            self.record("topk", (q.text, q.k, q.mode), "warm.query",
                        lambda: self._search(q))
        for mode in ("or", "and"):
            self.record("count", (first["or5"].text, mode), "warm.count",
                        lambda: self._count(first["or5"].text, mode))
        for pair in inp.absent_phrases:
            self.record("phrase", pair, "warm.phrase", lambda: self._phrase(*pair))
        delete = inp.lifecycle[0]
        self.view = versioning.delete_doc(versioning.open_view(self.idx),
                                          delete["doc_id"])
        text = delete["reads"][-1]
        self.record("view", ("delete", text), "warm.view_query",
                    lambda: self._view_read(self.view, text))
        # a slice of the batch through the strategy the full batch takes
        # (exec's own Σdf rule; the hot batch goes to the executors)
        self.answers.append(("batch", WARM_BATCH, self.timed(
            "warm.batch", lambda: self._batch(
                WARM_BATCH, method="gather" if inp.batch_sigma_df
                > inputs.LOCAL_MAX_POSTINGS else "auto"))))
        # the JVM's code paths of the read loop warm before it is timed
        self.round(-1, "warm.")
        self.setup_s = self.spark_start_s + time.perf_counter() - t0

    def record(self, kind: str, key, tag: str, fn, family: str = "") -> None:
        """timed(tag, fn), its answer kept for the gate as (kind, key);
        with a query family, the latency is also kept per family."""
        out = self.timed(tag, fn)
        self.answers.append((kind, key, out))
        if family and out is not None:
            self.lat_by_family.setdefault(f"{tag}.{family}", []).append(
                self.lat[tag][-1])

    def rounds(self, seconds: float):
        """Round numbers 0, 1, ... for at least ``seconds`` and at least
        MIN_ROUNDS rounds."""
        until = time.perf_counter() + seconds
        r = 0
        while r < MIN_ROUNDS or time.perf_counter() < until:
            yield r
            r += 1

    def reads(self) -> None:
        """The read loop of an untraced run."""
        for r in self.rounds(self.args.seconds):
            self.round(r, "")

    def round(self, r: int, tag: str) -> None:
        """Round r (-1: the warm-up round of set-up): every query of stream
        block r through the interactive path; the block's queries of
        ``inputs.QUERY_FAMILIES`` through the Spark path; PHRASES phrase
        pairs; VIEW_READS reads of the view with the scripted delete; and in
        traced runs OR and AND counts of the block's or5 and and2 queries
        and, every BATCH_EVERY-th round, a batch. Every round has the same
        mix, so the samples of a run have the same composition whatever
        number of rounds it runs."""
        import inputs

        inp = self.inp
        n_blocks = len(inp.stream) // inputs.BLOCK
        b = r % n_blocks
        block = inp.stream[b * inputs.BLOCK:(b + 1) * inputs.BLOCK]
        by_family = {q.family: q for q in block}
        # (kind, key, tag, call, family) per operation; the interactive
        # queries are spread between the others, so that a burst of load
        # from outside the run does not land on one kind only
        inter = [("topk", (q.text, q.k, q.mode), tag + "interactive",
                  functools.partial(self._interactive, q), q.family)
                 for q in block]
        other = [("topk", (q.text, q.k, q.mode), tag + "query",
                  functools.partial(self._search, q), q.family)
                 for q in (by_family[f] for f in inputs.QUERY_FAMILIES)]
        for j in range(PHRASES):
            pair = inp.phrases[(PHRASES * r + j) % len(inp.phrases)]
            other.append(("phrase", pair, tag + "phrase",
                          functools.partial(self._phrase, *pair), ""))
        reads = inp.lifecycle[0]["reads"]
        for j in range(VIEW_READS):
            text = reads[(VIEW_READS * r + j) % len(reads)]
            other.append(("view", ("delete", text), tag + "view_query",
                          functools.partial(self._view_read, self.view, text), ""))
        if self.args.trace:
            other += [("count", (by_family[f].text, mode), tag + "count",
                       functools.partial(self._count, by_family[f].text, mode), "")
                      for f in ("or5", "and2") for mode in ("or", "and")]
        for k in range(max(len(inter), len(other))):
            for ops in (inter, other):
                if k < len(ops):
                    self.record(*ops[k])
        if self.args.trace and r >= 0 and r % BATCH_EVERY[inp.workload] == 0:
            self.answers.append(("batch", None, self.timed(
                tag + "batch", self._batch)))

    def lifecycle(self) -> None:
        """Traced runs only (about 20 s): on the view with the scripted
        delete, an update with its first read (``update_visible``), reads
        of the merged view (``view_query_merged``), then ``compact`` +
        commit + reopen."""
        from pysearch import versioning

        step = self.inp.lifecycle[1]

        def update():
            v = versioning.update_doc(self.view, step["doc_id"],
                                      self.texts[step["doc_id"]] + step["suffix"])
            with self.client_span("versioning.first_read"):
                return v, self._view_read(v, step["visible_query"])

        out = self.timed("update_visible", update)
        if out is None:
            return
        # the marker terms rank the new version first in the oracle, so
        # this check also proves the update visible
        view, rows = out
        self.answers.append(("view", ("update", step["visible_query"]), rows))
        for text in step["reads"]:
            self.answers.append(("view", ("update", text), self.timed(
                "view_query_merged", lambda: self._view_read(view, text))))
        self.compacted = self.timed("compact", lambda: self._compact(view))

    def _compact(self, view):
        import tempfile

        from pysearch import build, versioning

        c = versioning.compact(view)
        d = tempfile.mkdtemp(prefix="compact_")
        build.write_index(c, d)
        return build.load_index(self.spark, d)

    # -- gate ---------------------------------------------------------------
    def gate(self) -> None:
        """Check every recorded answer against the oracle answers made with
        the inputs; each failing operation counts once."""
        import gate
        import pyarrow.parquet as pq

        from pysearch import exec as pexec

        exp = self.expected
        if self.compacted is not None:
            for text in exp["compacted"]:
                self.answers.append(("compacted", text, self.timed(
                    "compacted_query", lambda: [
                        (int(r["doc_id"]), float(r["score"])) for r in
                        pexec.search(self.compacted, text, k=10).collect()])))
        for kind, key, got in self.answers:
            if got is None:
                continue
            if kind == "count":
                errs = gate.check_count(got, exp["count"][key])
            elif kind == "phrase":
                errs = gate.check_rows(got, exp["phrase"][key])
            elif kind == "batch":
                # key: the number of leading batch queries sent (None: all)
                errs = gate.check_batch(got, [exp["topk"][(q.text, q.k, q.mode)]
                                              for q in self.inp.batch[:key]])
            else:
                errs = gate.check_topk(got, exp[kind][key])
            if errs:
                self.errors.append(f"{kind} {key}: {errs[0]}")

        self.attempted += 1
        try:
            tbl = pq.read_table(os.path.join(self.idx.disk_path, "docs"),
                                columns=["doc_id", "content_sha"])
        except (OSError, KeyError, AttributeError) as e:
            self.errors.append(f"content_sha: {type(e).__name__}: {e}")
        else:
            errs = gate.check_content_sha(
                list(zip(tbl.column("doc_id").to_pylist(),
                         tbl.column("content_sha").to_pylist())), self.texts)
            if errs:
                self.errors.append(f"content_sha: {errs[0]}")

    def stop(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    def disk_bytes(self, table: str = "") -> int:
        """Bytes on disk of the committed segment, or of one of its tables."""
        path = os.path.join(self.idx.disk_path, table)
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(path) for f in files)

    # -- metrics ------------------------------------------------------------
    def read_metrics(self, tag: str = "") -> dict[str, tuple[float, str]]:
        """The read-loop metrics; the query p50, the interactive p90, the
        counts and the batch throughput only in traced runs (too few
        samples, or too noisy for a bound: over ten seeds the query p50
        spread 0.17-0.21 of its median, near the 0.25 cap of a bound, the
        selective batch throughput 0.17-0.32; ``search_view`` runs
        ``exec.search`` and more, so the view p50 covers the query path)."""
        lat = self.lat
        p50 = lambda k: statistics.median(lat[tag + k])  # noqa: E731
        m = {
            "interactive_p50_ms": (p50("interactive"), "ms"),
            "phrase_p50_ms": (p50("phrase"), "ms"),
            "view_query_p50_ms": (p50("view_query"), "ms"),
        }
        if self.args.trace:
            m["query_p50_ms"] = (p50("query"), "ms")
            # all batch queries over all batch time
            m["batch_queries_per_s"] = (
                len(self.inp.batch) * len(lat[tag + "batch"])
                / (sum(lat[tag + "batch"]) / 1e3), "1/s")
            m["interactive_p90_ms"] = (percentile(lat[tag + "interactive"], 90), "ms")
            m["count_p50_ms"] = (p50("count"), "ms")
        return m

    def e2e(self) -> dict[str, tuple[float, str]]:
        in_bytes = sum(len(t.encode("utf-8")) for t in self.texts.values())
        return {
            "setup_s": (self.setup_s, "s"),
            "driver_peak_mb": (peak_rss_mb(), "MB"),
            **self.read_metrics(),
            "segment_bytes_per_input_byte": (
                self.disk_bytes() / in_bytes, "ratio"),
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pysearch")):
        print(f"perfbench: no pysearch package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpu0 = cpu_times()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work, bool(args.trace))
    corpus_dir = os.path.join(work, "corpus")
    run = spark = None
    try:
        t0 = time.perf_counter()
        inp, expected = inputs.prepare(args.workload, args.seed, corpus_dir,
                                       bool(args.trace))
        inputs_s = time.perf_counter() - t0
        # the inputs and oracle answers live to the end of the run: out of
        # reach of the cyclic GC, which would traverse them during timed calls
        gc.freeze()
        t0 = time.perf_counter()
        spark = start_spark(args.workload, env["nproc"])
        run = Run(args, env, inp, expected, corpus_dir, spark,
                  time.perf_counter() - t0)
        run.phase_s["inputs"] = inputs_s
        if args.trace:
            import layers

            metrics = layers.traced_run(run, base)
        else:
            for name, phase in (("setup", run.setup), ("reads", run.reads),
                                ("gate", run.gate)):
                t0 = time.perf_counter()
                phase()
                run.phase_s[name] = time.perf_counter() - t0
            metrics = run.e2e()
        import platform

        import pyarrow
        import pyspark

        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        print(json.dumps({"environment": {
            "host_steal_frac": cpu[7] / sum(cpu), "host_idle_frac": cpu[3] / sum(cpu),
            **env, "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "workload": args.workload, "seed": args.seed,
            "n_docs": len(run.texts), "batch_size": len(run.inp.batch),
            "batch_sigma_df": run.inp.batch_sigma_df,
            "spark_start_s": run.spark_start_s, "segment_s": run.segment_s,
            "phase_s": run.phase_s,
            "samples": {k: len(v) for k, v in run.lat.items()},
            "latency_ms_min_q1_q2_q3_max": {
                k: [round(x, 2) for x in quartile_summary(v)]
                for k, v in run.lat.items()},
            "p50_ms_by_family": {k: round(statistics.median(v), 2)
                                 for k, v in run.lat_by_family.items()},
            "errors": run.errors[:20]}}))
    finally:
        if run is not None:
            run.stop()
        elif spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = len(run.errors)
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
