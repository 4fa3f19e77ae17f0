"""The segment catalog (pysearch/store.py): one committed segment per
(corpus dir, field), each in its own directory, and every cached handle
revalidated against the live SparkSession."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from pysearch import build, store
from pysearch import exec as pexec

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_field_segments_live_in_their_own_dirs(spark):
    """Requesting the title segment leaves the content segment's
    directory holding only its own tables, and a second lookup returns
    the cached handle."""
    content = store.segment_index(spark, SF)
    title = store.segment_index(spark, SF, "title")
    assert title.positions is not None
    assert os.path.dirname(title.disk_path) == os.path.dirname(
        content.disk_path) != content.disk_path
    assert sorted(os.listdir(content.disk_path)) == [
        "docs", "manifest.json", "positions", "postings", "term_stats"]
    assert store.segment_index(spark, SF + "/") is content


_RESTART = r"""
import json
import sys

sys.path.insert(0, sys.argv[1])
import __spark_entry__ as em
from pysearch import exec as pexec
from pysearch import store
from pysearch.session import get_spark

SF = sys.argv[2]
KEYS = ["q_phrase", "q_mm_phrase", "q_combined_fields", "q_multi_match",
        "q_mm_cross_fields", "doc_update_visible", "merge_drops_deletes"]


def answers():
    spark = get_spark(cores=2, app="pysearch-restart", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()
    out = {k: sorted(tuple(r) for r in qs[k](spark, SF).collect())
           for k in KEYS}
    idx = store.segment_index(spark, SF)
    out["search"] = [tuple(r) for r in
                     pexec.search(idx, "value merge sort", k=10).collect()]
    pdf = pexec.search_interactive(idx, "value merge sort", k=10)
    out["search_interactive"] = [
        (int(d), float(s)) for d, s in zip(pdf["doc_id"], pdf["score"])]
    spark.stop()
    return out


print(json.dumps({"before": answers(), "after": answers()}, default=str))
"""


def test_restart_session_same_answers():
    """Stop the SparkSession and start a new one in the same process:
    every consumer family (term, interactive, phrase, title phrase,
    combined/multi-field, lifecycle view and compact) answers the same
    rows as before. Runs in a subprocess so the suite's session is
    untouched."""
    env = {**os.environ, "PYSEARCH_DRIVER_MEM": "2g"}
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, REPO, SF], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    before, after = got["before"], got["after"]
    assert before["q_phrase"] and before["search_interactive"]
    for key in before:
        assert after[key] == before[key], key


def _strip_bucket_rule(seg: str) -> None:
    path = os.path.join(seg, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    del manifest["bucket_rule"]
    with open(path, "w") as f:
        json.dump(manifest, f)


def test_load_index_refuses_segment_without_bucket_rule(spark, tmp_path):
    """A committed segment whose manifest.json records no term→bucket
    rule (one written before the rule was recorded) is refused instead
    of being read through the wrong bucket dirs."""
    seg = str(tmp_path / "segment")
    shutil.copytree(store.segment_index(spark, SF).disk_path, seg)
    assert build.load_index(spark, seg).n_buckets > 0
    _strip_bucket_rule(seg)
    with pytest.raises(ValueError, match="bucket rule"):
        build.load_index(spark, seg)


def test_resume_refuses_segment_without_bucket_rule(spark, tmp_path):
    """A resumed write over a committed segment whose manifest records no
    bucket rule raises instead of skipping its tables under a new
    manifest; resume=False rewrites it into a segment load_index opens."""
    src = store.segment_index(spark, SF)
    seg = str(tmp_path / "segment")
    build.write_index(src, seg)
    _strip_bucket_rule(seg)
    with pytest.raises(ValueError, match="bucket rule"):
        build.write_index(src, seg)
    with pytest.raises(ValueError, match="bucket rule"):
        build.load_index(spark, seg)
    assert build.write_index(src, seg, resume=False)["tables_written"] == [
        "docs", "postings", "term_stats", "positions"]
    idx = build.load_index(spark, seg)
    for text, mode in [("merge sort", "or"), ("value table part hash", "and")]:
        assert pexec.search_interactive(idx, text, mode=mode).equals(
            pexec.search_interactive(src, text, mode=mode))
