"""Ingest pipelines — pre-index document transforms (SURVEY §2.1
`ingest_pipeline`).

Reference: ingest/IngestService.java executes a named chain of processors
(modules/ingest-common/.../ingest/common/*Processor.java: SetProcessor,
RenameProcessor, RemoveProcessor, LowercaseProcessor, ConvertProcessor,
GrokProcessor, ScriptProcessor…) against each document before indexing.

Spark formulation: a processor chain is a fold of withColumn/drop
operations over the batch DataFrame — declarative, codegen'd, zero custom
execution. A pipeline is data (list of dicts, ES-ish JSON shape), so it
can be stored/loaded like ES pipeline definitions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .exec import local_frame
from .registry import Entry, tbl

REGISTRY: dict[str, Entry] = {}

Processor = dict


def apply_pipeline(df: DataFrame, processors: list[Processor]) -> DataFrame:
    """Apply an ES-style processor chain to a DataFrame."""
    for p in processors:
        (kind, conf), = p.items()
        if kind == "set":
            df = df.withColumn(conf["field"], F.lit(conf["value"]))
        elif kind == "rename":
            df = df.withColumnRenamed(conf["field"], conf["target_field"])
        elif kind == "remove":
            df = df.drop(conf["field"])
        elif kind == "lowercase":
            df = df.withColumn(conf["field"], F.lower(F.col(conf["field"])))
        elif kind == "uppercase":
            df = df.withColumn(conf["field"], F.upper(F.col(conf["field"])))
        elif kind == "convert":
            df = df.withColumn(conf["field"],
                               F.col(conf["field"]).cast(conf["type"]))
        elif kind == "grok":
            # one named capture ≙ one regexp_extract (GrokProcessor's
            # patterns compile down to regex captures)
            df = df.withColumn(
                conf["target_field"],
                F.regexp_extract(F.col(conf["field"]), conf["pattern"],
                                 conf.get("group", 1)))
        elif kind == "json":
            df = df.withColumn(
                conf["target_field"],
                F.get_json_object(F.col(conf["field"]), conf["path"]))
        else:
            raise ValueError(f"unknown processor {kind!r}")
    return df


DEMO_PIPELINE: list[Processor] = [
    {"set": {"field": "pipeline_ver", "value": "v1"}},
    {"uppercase": {"field": "event_type"}},
    {"rename": {"field": "event_type", "target_field": "etype"}},
    {"json": {"field": "props", "target_field": "k_str", "path": "$.k"}},
    {"convert": {"field": "k_str", "type": "int"}},
    {"rename": {"field": "k_str", "target_field": "k"}},
    {"remove": {"field": "props"}},
]


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Entry(fn=fn, sql=sql)
        return fn
    return deco


@_reg("ingest_pipeline", """
SELECT event_id, 'v1' AS pipeline_ver, upper(event_type) AS etype,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events WHERE event_id < 100 ORDER BY event_id""")
def ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEMO_PIPELINE chain applied to an events batch."""
    e = tbl(spark, sf_dir, "events").where(F.col("event_id") < 100)
    out = apply_pipeline(e, DEMO_PIPELINE)
    return (out.select("event_id", "pipeline_ver", "etype", "k")
            .orderBy("event_id"))


@_reg("reindex", """
SELECT CAST(count(*) AS BIGINT) AS n_reindexed,
       count(DISTINCT etype) AS n_types FROM (
  SELECT upper(event_type) AS etype FROM events WHERE value > 50)""")
def reindex_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered reindex round-trip: filter + transform events into a
    scratch parquet table, read it back and summarize — verifying the
    write→read path, not just the transform plan."""
    import shutil
    import tempfile

    # scratch dir removed in finally (r02 advice: leaked per invocation);
    # the 1-row summary is materialized before cleanup.
    dst = tempfile.mkdtemp(prefix="pysearch_reindex_")
    try:
        src = f"{sf_dir.rstrip('/')}/events.parquet"
        reindex(spark, src, dst,
                processors=[{"uppercase": {"field": "event_type"}},
                            {"rename": {"field": "event_type",
                                        "target_field": "etype"}}],
                where="value > 50")
        back = spark.read.parquet(dst)
        row = back.agg(F.count("*").alias("n_reindexed"),
                       F.count_distinct("etype").alias("n_types")).collect()
        return local_frame(spark, row, "n_reindexed long, n_types long")
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def reindex(spark: SparkSession, src_dir: str, dst_dir: str,
            processors: list[Processor] | None = None,
            where: str | None = None) -> int:
    """SURVEY §2.1 `reindex`: scroll-read one table, optionally transform,
    bulk-write another (modules/reindex/…/Reindexer.java). In Spark this
    is a streaming-free read→write — the scroll cursor is unnecessary
    because the scan is already partitioned and restartable."""
    df = spark.read.parquet(src_dir)
    if where:
        df = df.where(where)
    if processors:
        df = apply_pipeline(df, processors)
    df.write.mode("overwrite").parquet(dst_dir)
    return spark.read.parquet(dst_dir).count()
