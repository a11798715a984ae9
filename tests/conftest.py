import pytest


@pytest.fixture(scope="session")
def spark():
    from cosmos_spark.session import get_spark
    s = get_spark(app_name="cosmos_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    from cosmos_spark.corpus import make_corpus
    return make_corpus(n_repos=4, files_per_repo=6, skew_factor=3, seed=42)


@pytest.fixture(scope="session")
def source_df(spark, corpus_pdf):
    from cosmos_spark.corpus import corpus_to_spark
    return corpus_to_spark(spark, corpus_pdf, partitions=4).cache()


@pytest.fixture(scope="session")
def oracle_result(corpus_pdf):
    from cosmos_spark.oracle import run_oracle
    return run_oracle(corpus_pdf)


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs submitted while it ran)``, counted by
    the scheduler's job-id window (``dagScheduler().nextJobId()``), so a
    broadcast or an adaptive stage counts as the job it is."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - start
