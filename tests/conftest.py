import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pysearch.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # the suite's corpora are a few hundred docs; at the 16g default the
    # JVM's heap grows past what a 16 GB host holds next to the second JVM
    # of test_store's restart test (the kernel OOM killer ended one run)
    os.environ.setdefault("PYSEARCH_DRIVER_MEM", "4g")
    s = get_spark(cores=4, app="pysearch-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def built_index(spark):
    """sf0.001 corpus built with a tiny salt threshold so salting is
    actually exercised (the synthetic vocab is small and Zipf-hot)."""
    from pysearch import build

    corpus = build.corpus_from_documents(spark, SF_SMOKE)
    return build.build_index(
        spark, corpus, n_buckets=8, salt_threshold=50, n_salts=4)


@pytest.fixture(scope="session")
def oracle_index():
    import pandas as pd

    from pysearch.oracle import BruteForceIndex

    pdf = pd.read_parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    return BruteForceIndex(pdf["doc_id"].tolist(), pdf["text"].tolist())
