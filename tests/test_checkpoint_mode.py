"""checkpoint="reliable" (r8, VERDICT r7 next-round #7): the
lineage-safe .checkpoint() handoff must produce byte-identical output
to the default localCheckpoint path, for both the prefix-sum packer
and the curate chain; and asking for reliable without a checkpoint
dir must fail loudly with the one-line fix. Also the scoped-cache
registry's release."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    # NB: there is no public un-set; the error-path test below runs
    # FIRST in this file and skips itself if a dir is already set.
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    yield


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_reliable_requires_checkpoint_dir(spark):
    from mrbf_spark.registry import checkpointed

    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("a prior test left a checkpoint dir set")
    with pytest.raises(ValueError, match="setCheckpointDir"):
        checkpointed(_docs(spark), "reliable")
    with pytest.raises(ValueError, match="local|reliable"):
        checkpointed(_docs(spark), "bogus")


def test_contiguous_sequences_reliable_identical(spark, ckpt_dir):
    from mrbf_spark.functions.packing import contiguous_sequences

    docs = _docs(spark).filter(F.col("doc_id") < 200)
    local = _rows(contiguous_sequences(docs, seq_len=64))
    reliable = _rows(contiguous_sequences(docs, seq_len=64, checkpoint="reliable"))
    assert reliable == local and len(local) > 0


def test_curate_reliable_identical(spark, ckpt_dir):
    from mrbf_spark.functions.curate import curate_corpus
    from mrbf_spark.registry import release_scoped_caches

    docs = _docs(spark).filter(F.col("doc_id") < 150)
    a, census_a = curate_corpus(docs, semantic=False)
    rows_a = _rows(a)
    release_scoped_caches()
    b, census_b = curate_corpus(docs, semantic=False, checkpoint="reliable")
    rows_b = _rows(b)
    release_scoped_caches()
    assert census_a == census_b
    assert rows_a == rows_b and len(rows_a) > 0


def test_release_scoped_caches_drains_the_registry(spark):
    """registry.release_scoped_caches: every scoped_cache'd frame is
    unpersisted and the list drains (the non-catalog-path hygiene the
    stress/bench loops rely on)."""
    from mrbf_spark import registry

    df = registry.scoped_cache(spark.range(100))
    df.count()
    assert df.storageLevel.useMemory
    assert len(registry._SCOPED_CACHES) >= 1
    registry.release_scoped_caches()
    assert registry._SCOPED_CACHES == []
    assert not df.storageLevel.useMemory
