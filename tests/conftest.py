import os
import sys

import pytest

# repo root importable (package lives at the root, tests/ beside it)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from atr_adaptive_laguerre_spark.engine.session import build_session

    s = build_session(app="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_parquet(tmp_path_factory):
    from atr_adaptive_laguerre_spark.data.corpus import write_corpus_parquet

    path = str(tmp_path_factory.mktemp("corpus") / "tokens.parquet")
    write_corpus_parquet(path, n_docs=60, seed=42,
                         min_len=40, max_len=300,
                         heavy_every=13, heavy_len=900)
    return path


@pytest.fixture(scope="session")
def kernel_entry_points():
    """Every batch feature job as (name, output shape, doc_df -> DataFrame),
    for contract tests that must hold on all of them alike."""
    from atr_adaptive_laguerre_spark.config import FeatureConfig
    from atr_adaptive_laguerre_spark.engine.features_job import (
        core_features_long, explode_tokens, features_checksum, features_doc,
        features_long, implode_tokens,
    )

    cfg = FeatureConfig(atr_period=14)
    return [
        ("core_features_long", "long", lambda d: core_features_long(d, cfg)),
        ("features_long", "long", lambda d: features_long(d, cfg)),
        ("features_doc", "doc", lambda d: features_doc(d, cfg)),
        ("features_checksum", "checksum",
         lambda d: features_checksum(d, cfg)),
        ("implode", "long", lambda d: core_features_long(
            implode_tokens(explode_tokens(d)), cfg)),
    ]


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
