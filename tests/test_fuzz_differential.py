"""Randomized differential campaign: engine query trees vs DuckDB
(r05 brief item 2).

Seeded + reproducible (random.Random(PYSEARCH_FUZZ_SEED), default
20260818); N defaults to 40 here to keep the suite fast and scales via
PYSEARCH_FUZZ_N — the full 200-case campaign is recorded in
BENCH/fuzz_campaign.json (same seed 20260818, cases 0..199, all green)
and the driver key fuzz_tree_equiv re-runs a 24-case fixed-seed batch
at sf0.01 every round. The generator over-weights the empty-after-
analysis / absent-term / must_not-only classes that produced the real
r03→r04 bugs (cross_fields empty-candidate IndexError)."""

import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

from pysearch import build, fuzz, oracle_sql as osql, plan as pplan
from pysearch import exec as pexec

SF = "/root/testdata/sf0.001"
SEED = int(os.environ.get("PYSEARCH_FUZZ_SEED", fuzz.FUZZ_SEED))
N = int(os.environ.get("PYSEARCH_FUZZ_N", "40"))
K = 10


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM '{SF}/documents.parquet'")
    return con


def _rows(pairs):
    return sorted((int(d), round(float(s), osql.ROUND_DIGITS))
                  for d, s in pairs)


def test_fuzz_tree_campaign(spark, built_index, ddb):
    idx = built_index
    pexec.term_meta(idx, ["merge"])  # warm the terms dictionary once
    cases = fuzz.fuzz_cases(SEED, N)

    def engine_one(dsl):
        node = pplan.parse_tree(dsl)
        return _rows((r["doc_id"], r["score"])
                     for r in pexec.search_tree(idx, node, k=K).collect())

    with ThreadPoolExecutor(8) as ex:
        engine = list(ex.map(engine_one, cases))

    failures = []
    for i, dsl in enumerate(cases):
        node = pplan.parse_tree(dsl)
        oracle = _rows(ddb.sql(osql.tree_sql(node, K)).fetchall())
        if engine[i] != oracle:
            failures.append((i, dsl, engine[i][:3], oracle[:3]))
    assert not failures, f"{len(failures)}/{N} cases diverged: {failures[:2]}"


FA_N = int(os.environ.get("PYSEARCH_FUZZ_FA_N", "60"))


@pytest.fixture(scope="module")
def ddb_events():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    return con


def test_fuzz_filter_agg_campaign(spark, ddb_events):
    """Seeded filter+agg differential (VERDICT #2's filters/aggs scope):
    DataFrame-API interpretation vs independently generated DuckDB SQL,
    FA_N random specs over events."""
    cases = fuzz.fa_cases(fuzz.FA_SEED, FA_N)
    failures = []
    for i, case in enumerate(cases):
        eng = sorted(
            (r["grp"], round(float(r["metric"]), osql.ROUND_DIGITS))
            for r in fuzz._fa_engine(spark, SF, case).collect())
        ora = sorted(
            (g, round(float(m), osql.ROUND_DIGITS))
            for g, m in ddb_events.sql(fuzz._fa_sql(case)).fetchall())
        if eng != ora:
            failures.append((i, case, eng[:3], ora[:3]))
    assert not failures, \
        f"{len(failures)}/{FA_N} cases diverged: {failures[:2]}"


def test_fa_generator_deterministic():
    assert fuzz.fa_cases(fuzz.FA_SEED, 30) == fuzz.fa_cases(fuzz.FA_SEED, 30)
    assert fuzz.fa_cases(fuzz.FA_SEED + 1, 30) \
        != fuzz.fa_cases(fuzz.FA_SEED, 30)


def test_fa_generator_covers_edge_classes():
    import json

    blob = json.dumps(fuzz.fa_cases(fuzz.FA_SEED, 300))
    for marker in ("absent_type", '"neg": true', "min_doc_count",
                   "date_hist", "hist", '"terms"', '"avg"'):
        assert marker in blob, f"generator lost coverage of {marker!r}"


def test_fuzz_generator_deterministic():
    a = fuzz.fuzz_cases(SEED, 30)
    b = fuzz.fuzz_cases(SEED, 30)
    assert a == b
    assert fuzz.fuzz_cases(SEED + 1, 30) != a


def test_fuzz_generator_covers_bug_classes():
    """The distribution must keep producing the edge classes that caught
    real bugs: empty-after-analysis clauses, absent terms/attrs,
    must_not/filter slots, phrases, and explicit msm."""
    import json

    blob = json.dumps(fuzz.fuzz_cases(SEED, 300))
    for marker in ('"the', '"a', "zzqqabsent", "must_not", "filter",
                   "match_phrase", "minimum_should_match", "srcNA", '"xx"'):
        assert marker in blob, f"generator lost coverage of {marker!r}"


def test_fa_driver_key_sorts_null_groups(spark, monkeypatch):
    """A NULL group key (NULL events.value or ts) must not crash the
    driver-side sort of fuzz_filter_agg_equiv; it sorts first within its
    case."""
    def engine(spark, sf_dir, case):
        return spark.createDataFrame([("b", 2.0), (None, 1.0), ("a", 3.0)],
                                     "grp string, metric double")

    monkeypatch.setattr(fuzz, "_fa_engine", engine)
    rows = fuzz.fuzz_filter_agg_equiv(spark, SF).collect()
    assert len(rows) == 3 * fuzz.FA_DRIVER_N
    assert [r["grp"] for r in rows[:3]] == [None, "a", "b"]
