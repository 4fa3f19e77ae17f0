"""Update/delete lifecycle: versioned re-index, soft deletes, PIT
snapshot isolation, and compaction byte-identity (r05 brief item 1)."""

import pytest
from pyspark.sql import functions as F

from pysearch import build, versioning

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lifecycle(spark):
    """v0 view over a fresh small index, plus the update/delete ops."""
    corpus = build.corpus_from_documents(spark, SF)
    idx = build.build_index(
        spark, corpus, n_buckets=8, salt_threshold=50, n_salts=4)
    v0 = versioning.open_view(idx)
    v1_text = idx.docs.where(F.col("doc_id") == 3) \
        .select("content").collect()[0][0]
    v1 = versioning.update_doc(v0, 3, v1_text + " updated merge sort handler")
    v2 = versioning.delete_doc(v1, 11)
    return v0, v1, v2


def _ids(df):
    return [int(r["doc_id"]) for r in df.collect()]


def test_update_visible_and_old_version_gone(spark, lifecycle):
    v0, v1, _ = lifecycle
    new_id = v0.index.stats.n_docs  # fresh doc_id = max+1 = N
    hits = _ids(versioning.search_view(v1, "merge sort", k=500))
    assert 3 not in hits, "soft-deleted v1 of the doc must not match"
    assert new_id in hits, "the v2 doc must be searchable"
    # physical stats include the soft-deleted doc: N grew by exactly 1
    assert v1.index.stats.n_docs == v0.index.stats.n_docs + 1
    assert v1.n_live == v0.n_live
    assert v1.seq_no == v0.seq_no + 1


def test_delete_removes_from_results_not_stats(spark, lifecycle):
    _, v1, v2 = lifecycle
    assert 11 in _ids(versioning.search_view(v1, "merge sort", k=500))
    assert 11 not in _ids(versioning.search_view(v2, "merge sort", k=500))
    # soft delete: physical stats unchanged, live count down one
    assert v2.index.stats.n_docs == v1.index.stats.n_docs
    assert v2.n_live == v1.n_live - 1


def test_pit_snapshot_sees_pre_delete_state(spark, lifecycle):
    """A PIT reader that captured the view BEFORE the delete keeps
    seeing the deleted doc (scroll_pit contract over versioned data)."""
    _, v1, v2 = lifecycle
    pit = v1  # views are immutable: holding v1 IS the PIT snapshot
    before = versioning.search_view(pit, "merge sort", k=500).collect()
    assert 11 in [int(r["doc_id"]) for r in before]
    # the delete happened (v2) — the PIT still answers from its snapshot
    after_pit = versioning.search_view(pit, "merge sort", k=500).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after_pit]
    assert 11 not in _ids(versioning.search_view(v2, "merge sort", k=500))


def test_compact_byte_identical_to_rebuild(spark, lifecycle):
    """compact(view) ≡ build_index(live corpus at preserved doc_ids),
    byte-for-byte over every posting column — SegmentMerger dropping
    deletes produces exactly the segment a rebuild would."""
    _, _, v2 = lifecycle
    compacted = versioning.compact(v2)

    live_corpus = v2.index.docs.where(
        ~F.col("doc_id").isin(sorted(v2.deletes))) \
        .select("doc_id", "repo", "path", "commit", "lang", "content")
    rebuilt = build.build_index(
        spark, live_corpus, n_buckets=8, salt_threshold=50, n_salts=4)

    assert compacted.stats.n_docs == rebuilt.stats.n_docs
    assert compacted.stats.sum_dl == rebuilt.stats.sum_dl
    cols = [f.name for f in build.POSTINGS_SCHEMA.fields]
    a, b = compacted.postings.select(*cols), rebuilt.postings.select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # deleted docs are physically gone from the compacted postings
    from pysearch import merge as pmerge

    n_dead = (pmerge.decode_to_posting_rows(compacted.postings)
              .where(F.col("doc_id").isin(sorted(v2.deletes))).count())
    assert n_dead == 0


def test_compact_scores_shift_like_forcemerge(spark, lifecycle):
    """Pre-merge scores (deleted docs in df/N) differ from post-merge
    scores — the documented ES pre/post-forcemerge shift."""
    from pysearch import exec as pexec

    _, _, v2 = lifecycle
    pre = {int(r["doc_id"]): float(r["score"])
           for r in versioning.search_view(v2, "merge sort", k=10).collect()}
    compacted = versioning.compact(v2)
    post = {int(r["doc_id"]): float(r["score"])
            for r in pexec.search(compacted, "merge sort", k=10).collect()}
    assert pre and post
    shared = set(pre) & set(post)
    assert shared and any(abs(pre[d] - post[d]) > 1e-9 for d in shared)


def test_updated_view_phrase_reads_persisted_positions(spark):
    """update_doc over a segment with positions keeps them (base ∪ delta
    rows, the delta's a local relation): a phrase leg over the updated
    view is a pruned positions scan with no corpus re-tokenize, and it
    returns the docs the forward-index fallback returns, the new version
    included."""
    import dataclasses

    from pysearch import exec as pexec
    from pysearch import store

    base = store.segment_index(spark, SF)
    v1_text = base.docs.where(F.col("doc_id") == 3) \
        .select("content").collect()[0][0]
    view = versioning.update_doc(versioning.open_view(base), 3,
                                 v1_text + " updated merge sort handler")
    new_id = base.stats.n_docs  # fresh doc_id = max+1 = N
    # the delta's positions are a local relation, not an RDD scan
    pos_plan = view.index.positions._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in pos_plan and "ExistingRDD" not in pos_plan

    df = pexec._phrase_docs(view.index, ["merge", "sort"], 0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan
    assert "regexp_replace" not in plan.lower()
    got = {int(r["doc_id"]) for r in df.collect()}
    no_pos = dataclasses.replace(view.index, positions=None)
    fallback = {int(r["doc_id"]) for r in
                pexec._phrase_docs(no_pos, ["merge", "sort"], 0).collect()}
    assert got == fallback
    assert new_id in got
