"""Checkpoint mode follows the session: registry.checkpointed writes
lineage-safe .checkpoint() blocks when the SparkContext has a
checkpoint directory (the CLI's --checkpoint-dir) and executor-local
.localCheckpoint() blocks otherwise. Both must produce identical
output, for the curate chain and for the packing prefix sum.

The lineage-safe side runs through the CLI in a subprocess: there is
no public way to unset a checkpoint directory, and one left on the
shared test session would turn every later handoff in the suite into
a checkpoint written to disk. Also the scoped-cache registry's
release."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parent.parent

_CLI_RUNS = """
import sys
from mrbf_spark.__main__ import main

ck, docs, out = sys.argv[1:4]
rc = main(["curate", "--input", docs, "--out", f"{out}/curated",
           "--no-semantic", "--checkpoint-dir", ck])
rc = rc or main(["pretrain-build", "--input", docs, "--out", f"{out}/build",
                 "--bpe-merges", "2", "--seq-len", "64", "--shards", "2",
                 "--checkpoint-dir", ck])
sys.exit(rc)
"""


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def reliable_run(spark, tmp_path_factory):
    """Run `curate` and `pretrain-build` with --checkpoint-dir in a
    fresh interpreter (its own small Spark session) over a 150-doc
    slice; returns (docs_path, out_dir, curate_stdout)."""
    base = tmp_path_factory.mktemp("ckpt_mode")
    docs = str(base / "docs")
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") < 150
    ).write.parquet(docs)
    ck, out = base / "ckpt", base / "out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, "-c", _CLI_RUNS, str(ck), docs, str(out)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # the handoffs really were lineage-safe: checkpoint files on disk
    assert any(ck.rglob("rdd-*")), "no reliable checkpoint was written"
    return docs, out, proc.stdout


def test_curate_reliable_identical(spark, reliable_run):
    from mrbf_spark.functions.curate import curate_corpus
    from mrbf_spark.registry import release_scoped_caches

    docs, out, stdout = reliable_run
    assert spark.sparkContext.getCheckpointDir() is None
    local, census = curate_corpus(spark.read.parquet(docs), semantic=False)
    rows_local = _rows(local)
    release_scoped_caches()
    rows_reliable = _rows(spark.read.parquet(f"{out}/curated"))
    assert rows_reliable == rows_local and len(rows_local) > 0
    printed = {
        stage: int(rest.split()[0])
        for stage, _, rest in (
            line.partition("\t") for line in stdout.splitlines()
        )
        if rest and not stage.startswith("pretrain-build")
    }
    assert printed == dict(census), stdout


def test_contiguous_sequences_reliable_identical(spark, reliable_run):
    from mrbf_spark.functions.packing import contiguous_sequences_tokens

    _, out, _ = reliable_run
    assert spark.sparkContext.getCheckpointDir() is None
    enc = spark.read.parquet(f"{out}/build/encoded")
    local = _rows(contiguous_sequences_tokens(enc, seq_len=64))
    reliable = _rows(spark.read.parquet(f"{out}/build/sequences"))
    assert reliable == local and len(local) > 0


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
