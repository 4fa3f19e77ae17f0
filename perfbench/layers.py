"""Traced run: the per-layer split of one workload run.

The traced run does what an untraced run does, and in addition:

* it wraps the calls into each layer (``install``); the wrapped names are
  the public functions where they exist and the module-level helpers where
  a layer boundary is only a helper;
* each span runs under its own Spark job group; jobs per span come from
  the status tracker, stages, tasks and executor time from Spark's event
  log, enabled through ``PYSPARK_SUBMIT_ARGS``;
* each read round runs twice, untraced then traced, and the cost of
  tracing -- traced minus untraced, or for a throughput untraced minus
  traced -- is reported as the tracing overhead (``overhead.*``);
* the lifecycle goes on after the delete with ``update_doc`` and its
  first read (``lifecycle.update_visible_ms``), reads of the merged view
  (``lifecycle.view_query_merged_p50_ms``) and ``compact`` +
  ``write_index`` + ``load_index`` (``lifecycle.compact_s``), which
  untraced runs leave out for time.

Per-layer ``_ms`` metrics are self times (span duration minus child
spans), except ``build.*``, ``merge.*``, ``versioning.first_read_ms``,
``versioning.compact_ms`` and ``lifecycle.*``, which time the whole call. A
metric is the median, over the client operations of its home kind (the
root span ``op.<kind>``), of the per-operation total. A layer whose helper
no longer exists reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import tracing

#: the kinds of client operation (root span op.<kind>) whose Spark stage
#: totals are reported as spark.<name>.*
SPARK_KINDS = {"batch": "op.batch", "update": "op.update_visible",
               "compact": "op.compact", "segment_index": "setup.segment_index"}
SPARK_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb")
READ_METRICS = ("query_p50_ms", "interactive_p50_ms", "interactive_p90_ms",
                "phrase_p50_ms", "count_p50_ms", "batch_queries_per_s",
                "view_query_p50_ms")


def install(tracer: tracing.Tracer) -> None:
    from pysearch import analysis, build, codec, merge, phrase, store, versioning
    from pysearch import exec as pexec

    def rows(_args, out):
        return {"rows": len(out)} if hasattr(out, "__len__") else {}

    def decoded(args, _out):
        return {"blocks": len(args[0]), "postings": int(sum(args[2]))}

    # driver-only layers (pure Python / pyarrow) run without a job group
    tracer.wrap(analysis, "analyze", "analysis.analyze", group=False)
    tracer.wrap(pexec, "term_meta", "exec.term_meta")
    tracer.wrap(pexec, "_local_blocks_pandas", "exec.blocks_read",
                counter=rows, group=False)
    tracer.wrap(pexec, "_score_blocks_pd", "exec.score", group=False)
    tracer.wrap(codec, "decode_blocks_concat", "codec.decode",
                counter=decoded, group=False)
    for attr in ("_search_local", "_candidates", "_search_distributed"):
        tracer.wrap(pexec, attr, "exec." + attr.lstrip("_"), span=False)
    tracer.wrap(store, "segment_index", "store.segment_index")
    tracer.wrap(phrase, "_pair_rows_pandas", "phrase.pair_read", counter=rows,
                group=False)
    tracer.wrap(phrase, "_pair_count", "phrase.pair_count", span=False)
    for attr in ("build_index", "write_index", "load_index"):
        tracer.wrap(build, attr, "build." + attr)
    tracer.wrap(merge, "merge_indexes", "merge.merge_indexes")
    tracer.wrap(versioning, "compact", "versioning.compact")


def traced_run(run, base: str) -> dict[str, tuple[float, str]]:
    tracer = tracing.Tracer(sc=run.spark.sparkContext)
    install(tracer)
    run.tracer = tracer
    t0 = time.perf_counter()
    run.setup()
    run.phase_s["setup"] = time.perf_counter() - t0

    tracer.unwrap_all()
    run.tracer = None
    # reads: each round runs untraced, then again traced, for twice
    # --seconds; the same queries on both sides, interleaved in time
    for r in run.rounds(2 * run.args.seconds):
        for tag in ("untraced.", ""):
            if not tag:
                install(tracer)
                run.tracer = tracer
            run.round(r, tag)
            tracer.unwrap_all()
            run.tracer = None
    install(tracer)
    run.tracer = tracer
    run.lifecycle()
    tracer.unwrap_all()
    run.tracer = None
    run.gate()

    run.stop()                          # flushes and closes the event log
    logs = sorted(glob.glob(os.path.join(run.env["event_log_dir"], "**", "*"),
                            recursive=True))
    stages = tracing.stage_totals([p for p in logs if os.path.isfile(p)])
    metrics = layer_metrics(run, tracer, stages)
    tracer.dump(os.path.join(base, f"trace-{run.args.workload}-{run.args.seed}.json"),
                {"stage_totals": stages, "metrics": metrics})
    return metrics


def _by_kind(tracer: tracing.Tracer) -> dict[str, list[dict]]:
    """root span name -> per-root records (tracing.Tracer.per_root) with
    each root's subtree job-group list."""
    out: dict[str, list[dict]] = {}
    for r in tracer.per_root():
        out.setdefault(r["name"], []).append(r)
    return out


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(run, tracer: tracing.Tracer, stages: dict[str, dict]
                  ) -> dict[str, tuple[float, str]]:
    roots = _by_kind(tracer)

    def per_op(kind: str, layer: str, field: str = "ms") -> float:
        return _med(r["layers"].get(layer, {}).get(field, 0)
                    for r in roots.get(kind, []))

    def subtree(kind: str, field: str) -> float:
        """median over ops of the sum of ``field`` over the op's spans"""
        return _med(sum(lay.get(field, 0) for lay in r["layers"].values())
                    for r in roots.get(kind, []))

    def stage_sum(r: dict, field: str) -> float:
        return sum(stages.get(g, {}).get(field, 0) for g in r["groups"])

    def stage_med(kind: str, field: str, own: bool = False) -> float:
        return _med(stages.get(r["groups"][0], {}).get(field, 0) if own
                    else stage_sum(r, field) for r in roots.get(kind, []))

    m: dict[str, tuple[float, str]] = {}
    q, it, c, ph = "op.query", "op.interactive", "op.count", "op.phrase"
    m["analysis.analyze_ms"] = (per_op(q, "analysis.analyze"), "ms")
    m["exec.term_meta_ms"] = (per_op(q, "exec.term_meta"), "ms")
    m["exec.term_meta_jobs"] = (per_op(q, "exec.term_meta", "jobs"), "count")
    m["exec.blocks_read_ms"] = (per_op(q, "exec.blocks_read"), "ms")
    m["exec.blocks_read_rows"] = (per_op(q, "exec.blocks_read", "rows"), "count")
    m["exec.score_ms"] = (per_op(q, "exec.score"), "ms")
    m["codec.decode_ms"] = (per_op(it, "codec.decode"), "ms")
    m["codec.blocks_decoded"] = (per_op(it, "codec.decode", "blocks"), "count")
    m["codec.postings_decoded"] = (per_op(it, "codec.decode", "postings"), "count")
    read = sum(r["layers"].get("exec.blocks_read", {}).get("rows", 0)
               for r in roots.get(it, []))
    dec = sum(r["layers"].get("codec.decode", {}).get("blocks", 0)
              for r in roots.get(it, []))
    m["exec.decode_ratio"] = (dec / read if read else 0.0, "ratio")
    m["exec.search_self_ms"] = (per_op(q, q), "ms")
    m["exec.search_jobs"] = (per_op(q, q, "jobs"), "count")
    m["exec.search_stages"] = (stage_med(q, "stages", own=True), "count")
    m["exec.search_accounted_ms"] = (sum(
        per_op(q, layer) for layer in (q, "analysis.analyze", "exec.term_meta",
                                       "exec.blocks_read", "exec.score",
                                       "codec.decode")), "ms")
    m["exec.count_self_ms"] = (per_op(c, c), "ms")
    m["exec.count_jobs"] = (subtree(c, "jobs"), "count")
    m["phrase.pair_read_ms"] = (per_op(ph, "phrase.pair_read"), "ms")
    m["phrase.pair_read_rows"] = (per_op(ph, "phrase.pair_read", "rows"), "count")
    m["phrase.pair_count_calls"] = (per_op(ph, ph, "phrase.pair_count.calls"), "count")
    m["phrase.self_ms"] = (per_op(ph, ph), "ms")
    m["phrase.jobs"] = (subtree(ph, "jobs"), "count")
    m["store.segment_index_ms"] = (per_op(ph, "store.segment_index"), "ms")
    m["store.segment_index_calls"] = (per_op(ph, "store.segment_index", "calls"), "count")

    batches = roots.get("op.batch", [])
    m["exec.batch_sigma_df"] = (float(run.inp.batch_sigma_df), "count")
    for strat, layer in (("local", "exec.search_local.calls"),
                         ("gather", "exec.candidates.calls"),
                         ("distributed", "exec.search_distributed.calls")):
        n = 0
        for r in batches:
            own = r["layers"]["op.batch"]
            if strat == "gather":
                n += bool(own.get(layer)) and not own.get("exec.search_distributed.calls")
            else:
                n += bool(own.get(layer))
        m[f"exec.batch_strategy_{strat}"] = (float(n), "count")
    m["exec.search_many_jobs"] = (subtree("op.batch", "jobs"), "count")
    m["exec.search_many_stages"] = (stage_med("op.batch", "stages"), "count")
    m["exec.search_many_tasks"] = (stage_med("op.batch", "tasks"), "count")

    nproc = run.env["nproc"]
    for name, kind in SPARK_KINDS.items():
        for f in SPARK_FIELDS:
            m[f"spark.{name}.{f}"] = (stage_med(kind, f),
                                      "s" if f.endswith("_s") else "MB")
        m[f"spark.{name}.core_utilization"] = (_med(
            stage_sum(r, "executor_run_s") / (r["wall_ms"] / 1e3 * nproc)
            for r in roots.get(kind, [])), "ratio")

    seg = "setup.segment_index"
    for attr in ("build_index", "write_index", "load_index"):
        m[f"build.{attr}_ms"] = (per_op(seg, "build." + attr, "incl_ms"), "ms")
    # one cold build a run: too noisy for a bound, and in setup_s
    m["build.index_docs_per_s"] = (len(run.texts) / run.segment_s, "1/s")
    for table in ("docs", "postings", "term_stats", "positions"):
        m[f"store.table_bytes.{table}"] = (
            float(run.disk_bytes(table)), "bytes")
    with open(os.path.join(run.idx.disk_path, "manifest.json")) as f:
        lineage = json.load(f).get("lineage", [])
    m["store.lineage_postings"] = (float(sum(r["n_postings"] for r in lineage)), "count")
    m["store.lineage_bytes"] = (float(sum(r["bytes"] for r in lineage)), "bytes")

    up = "op.update_visible"
    m["build.delta_build_ms"] = (per_op(up, "build.build_index", "incl_ms"), "ms")
    m["merge.merge_indexes_ms"] = (per_op(up, "merge.merge_indexes", "incl_ms"), "ms")
    m["versioning.first_read_ms"] = (per_op(up, "versioning.first_read", "incl_ms"), "ms")
    m["versioning.update_jobs"] = (subtree(up, "jobs"), "count")
    vq = "op.view_query"
    m["versioning.view_query_jobs"] = (subtree(vq, "jobs"), "count")
    m["versioning.view_query_self_ms"] = (per_op(vq, vq), "ms")
    cp = "op.compact"
    m["versioning.compact_ms"] = (per_op(cp, "versioning.compact", "incl_ms"), "ms")
    m["build.compact_write_index_ms"] = (per_op(cp, "build.write_index", "incl_ms"), "ms")
    m["lifecycle.compact_s"] = (per_op(cp, cp, "incl_ms") / 1e3, "s")
    m["lifecycle.update_visible_ms"] = (per_op(up, up, "incl_ms"), "ms")
    vm = "op.view_query_merged"
    m["lifecycle.view_query_merged_p50_ms"] = (per_op(vm, vm, "incl_ms"), "ms")

    traced = run.read_metrics()
    untraced = run.read_metrics(tag="untraced.")
    for name in READ_METRICS:
        value, unit = traced[name]
        m[f"traced.{name}"] = (value, unit)
        base = untraced[name][0]
        m[f"overhead.{name}"] = (base - value if unit == "1/s" else value - base,
                                 unit)
    m["trace.spans"] = (float(len(tracer.spans)), "count")
    m["trace.absent_wraps"] = (float(len(tracer.absent)), "count")
    return m

