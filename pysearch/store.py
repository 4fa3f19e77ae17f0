"""The segment catalog: every live segment of the process, and every
value derived from them.

The lifecycle is the reference one (IndexWriter#commit, then an
IndexReader over the committed segment; ES never serves queries from the
indexer's in-memory structures): ``segment_index(spark, sf_dir, field)``
builds one corpus field WITH positions, commits it through
build.write_index (bucket-partitioned parquet + manifest lineage) into
its own directory, and serves every consumer from the loaded segment.
The phrase, span and suggest families read that segment's positions
table (phrase.positions_table); disk backing is also what enables the
coordinator pyarrow fast paths (Index.disk_path).

Fields: ``content`` (documents.text) and ``title`` (its first 80 chars —
the same expression as the DuckDB oracles' ``substr(text, 1, 80)``).

Handles are bound to the SparkSession that made them. ``cached`` is the
one place that revalidates: a value made on a session that is no longer
the live one is made again on the live one — a segment reopens its
committed directory (no rebuild), a derived value (versioning's
lifecycle fixtures) rebuilds from the reopened segments. ``_cleanup``
removes every committed directory at exit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import SparkSession, functions as F

from . import build
from .build import Index

#: build parameters of the catalog segments (small salt threshold so
#: salting is exercised at sf0.01)
SEG_BUILD_KW = dict(n_buckets=16, salt_threshold=64, n_salts=4)

#: catalog key -> (SparkSession the value was made on, value)
_CATALOG: dict = {}

#: (corpus dir, field) -> committed segment directory
_SEGMENT_DIRS: dict[tuple[str, str], str] = {}


def cached(spark: SparkSession, key, make):
    """The value cached under ``key``, made (again) with ``make()`` when
    it is missing or was made on a SparkSession that is not ``spark`` —
    a cached handle must not outlive the session that created it."""
    hit = _CATALOG.get(key)
    if hit is None or hit[0] is not spark:
        hit = _CATALOG[key] = (spark, make())
    return hit[1]


def segment_index(spark: SparkSession, sf_dir: str,
                  field: str = "content") -> Index:
    """The committed, disk-backed segment of one corpus field: every
    table is a bucket-partitioned parquet scan with real partition
    pruning. Built and committed once per (sf_dir, field) per process."""
    key = (sf_dir.rstrip("/"), field)
    return cached(spark, key,
                  lambda: build.load_index(spark, _committed_dir(spark, *key)))


def _committed_dir(spark: SparkSession, sf_dir: str, field: str) -> str:
    seg_dir = _SEGMENT_DIRS.get((sf_dir, field))
    if seg_dir is None:
        corpus = build.corpus_from_documents(spark, sf_dir)
        if field == "title":
            corpus = corpus.withColumn("content",
                                       F.substring("content", 1, 80))
        elif field != "content":
            raise ValueError(f"unknown field {field!r}")
        idx = build.build_index(spark, corpus, with_positions=True,
                                **SEG_BUILD_KW)
        seg_dir = tempfile.mkdtemp(prefix=f"pysearch_segment_{field}_")
        build.write_index(idx, seg_dir)
        idx.unpersist()
        _SEGMENT_DIRS[(sf_dir, field)] = seg_dir
    return seg_dir


def _cleanup() -> None:
    for seg_dir in _SEGMENT_DIRS.values():
        shutil.rmtree(seg_dir, ignore_errors=True)
    _SEGMENT_DIRS.clear()
    _CATALOG.clear()


atexit.register(_cleanup)
