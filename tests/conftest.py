import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from cosmos_spark.session import get_spark
    # get_spark pins and pre-touches the whole driver heap (8g by
    # default); the suite's local[4] session needs no more than the
    # benchmark's 2g, and the smaller heap leaves memory for another
    # Spark process on the same machine
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
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


def python_rdd_scans(df) -> list[str]:
    """The scans in ``df``'s physical plan that read a Python-built RDD
    (``createDataFrame`` over a row list), which every job reading them
    re-runs in a Python worker. Such a scan plans as ``Scan ExistingRDD``
    with a ``PythonRDD`` in its lineage; a localCheckpoint plans as the
    same node, but its lineage is cut at the checkpoint, so it does not
    count. Cached relations are searched through their cached plans."""
    stack = [df._jdf.queryExecution().executedPlan()]
    out = []
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        if "ExistingRDD" in name and "PythonRDD" in node.rdd().toDebugString():
            out.append(node.simpleString(100))
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return out
