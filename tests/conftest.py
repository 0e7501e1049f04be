import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deepchecks_spark.session import get_spark  # noqa: E402

# get_spark defaults the local heap to 64g, sized for a large host; the
# test session needs far less, and under a 64g ceiling the JVM outgrows a
# 16 GB host's RAM before it collects (the kernel then kills it mid-suite)
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deepchecks_spark_tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    from deepchecks_spark.corpus import generate_corpus_pandas

    return generate_corpus_pandas(300, seed=42)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    from deepchecks_spark.corpus.generator import CORPUS_DDL

    df = spark.createDataFrame(corpus_pdf, schema=CORPUS_DDL)
    df.persist()
    df.count()
    return df
