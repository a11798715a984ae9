"""Tests for the large-vocabulary corpus generator.

    python -m pytest perfbench/test_vocab_corpus.py -q
"""

import os

import pandas as pd
import pytest

from cosmos_spark import kernels as K
from cosmos_spark import oracle
from perfbench import vocab_corpus as V


def _dim(pdf: pd.DataFrame) -> pd.DataFrame:
    men = K.mention_kernel(K.segment_kernel(pdf))
    entities, _aliases = oracle.build_entities_and_aliases(men)
    return entities


def test_rows_are_a_pure_function_of_seed_and_index():
    a = V.vocab_rows(7, range(50), n_repos=10, defs_per_file=8)
    b = V.vocab_rows(7, range(50), n_repos=10, defs_per_file=8)
    pd.testing.assert_frame_equal(a, b)
    # a row does not depend on which other rows are generated with it
    pd.testing.assert_frame_equal(
        a.iloc[20:30].reset_index(drop=True),
        V.vocab_rows(7, range(20, 30), n_repos=10, defs_per_file=8))
    assert not a["content"].equals(
        V.vocab_rows(8, range(50), n_repos=10, defs_per_file=8)["content"])
    assert a["path"].is_unique


def test_dim_grows_with_the_corpus_and_loads_canonicalization():
    small = _dim(V.vocab_rows(1, range(50), n_repos=10, defs_per_file=8))
    large = _dim(V.vocab_rows(1, range(150), n_repos=10, defs_per_file=8))
    # most def names are new: the dim tracks the corpus, unlike the
    # 10-stem standard corpus whose dim stays at a few dozen rows
    assert len(large) >= 4 * 150
    assert len(large) > 2.5 * len(small)
    canon = oracle.canonicalize(large)
    same_as = (canon["entity_id"] != canon["canonical_id"]).sum()
    assert same_as >= 0.01 * len(large)


def test_spelling_variants_cover_every_kind():
    import random
    rng = random.Random(0)
    stem = V.stem_at(12345)
    spellings = {V.spell(rng, stem) for _ in range(400)}
    assert stem in spellings
    assert any("_v" in s and s.startswith(stem) for s in spellings)
    assert any(s != stem and K.alias_norm(pd.Series([s]))[0] == stem
               for s in spellings)  # camelCase: same dim row
    assert any(abs(len(s) - len(stem)) == 1 for s in spellings)  # typos


@pytest.fixture(scope="module")
def spark():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from cosmos_spark.session import get_spark
    s = get_spark(app_name="perfbench_tests", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_executor_side_rows_equal_driver_side_rows(spark):
    got = (V.vocab_corpus_spark(spark, seed=5, n_files=40, n_repos=10,
                                defs_per_file=3, partitions=3)
           .toPandas().sort_values("path").reset_index(drop=True))
    want = (V.vocab_rows(5, range(40), n_repos=10, defs_per_file=3)
            .sort_values("path").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)
