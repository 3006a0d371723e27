"""Sample-bounded Lloyd training for the emb_kmeans family (VERDICT r8
item 2: the one measured super-linear bench query trained every round
on the full corpus).

The contract has two halves, and each needs its own proof:

* at or under ``KMEANS_TRAIN_CAP`` the hash filter passes every row
  (``keep >= DENOM``), so gate-scale results are bit-identical to the
  old full-corpus Lloyd — covered by the standing oracle gates at
  sf0.001/sf0.01 (test_oracle / attest_catalog), plus the arithmetic
  pin here;
* ABOVE the cap the sample path actually engages — no driver SF is
  that large, so this file builds a 6000-vector corpus (> 4096 cap)
  and runs the driver's exact compare on all three consumers. Both
  engines implement the same md5-fold sample, so parity under binding
  is exactly as strong as parity under pass-through.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from llm_map_reduce_summarizer_spark.plans.documents import (
    KMEANS_SAMPLE_DENOM,
    KMEANS_TRAIN_CAP,
)
from tests.conftest import SF_SMOKE
from tests.oracle_utils import TABLES, run_compare

N_BIG = 6000  # > KMEANS_TRAIN_CAP so the sample filter engages
DIM = 64  # sql_unit_cte() pins the testdata's 64-dim layout


@pytest.fixture(scope="module")
def big_emb_dir(tmp_path_factory):
    """An sf-dir clone whose embeddings table is larger than the
    training cap: every other table ``run_compare`` registers symlinks
    to sf0.001, embeddings is a fresh deterministic 6000 x 64 corpus."""
    assert N_BIG > KMEANS_TRAIN_CAP
    d = tmp_path_factory.mktemp("bigemb")
    for t in TABLES:
        if t == "embeddings":
            continue
        os.symlink(os.path.join(SF_SMOKE, f"{t}.parquet"), d / f"{t}.parquet")
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(N_BIG, DIM)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(N_BIG), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 5 for i in range(N_BIG)], pa.int32()),
        }
    )
    pq.write_table(tbl, d / "embeddings.parquet")
    return str(d)


def test_keep_passes_every_row_at_gate_scales():
    """The pass-through arithmetic the bit-identity claim rests on:
    for every driver SF (<= 2000 vectors) keep >= DENOM, i.e. the
    sample filter admits any 60-bit hash value."""
    for n in (500, 2000):
        keep = (KMEANS_SAMPLE_DENOM * KMEANS_TRAIN_CAP) // n
        assert keep >= KMEANS_SAMPLE_DENOM
    # ... and the binding test below genuinely binds
    keep = (KMEANS_SAMPLE_DENOM * KMEANS_TRAIN_CAP) // N_BIG
    assert keep < KMEANS_SAMPLE_DENOM


@pytest.mark.parametrize(
    "key", ["emb_kmeans", "emb_cluster_quality", "knn_ivf_lloyd"]
)
@pytest.mark.slow
def test_sampled_training_matches_oracle_when_binding(
    spark, big_emb_dir, key
):
    """The driver's exact Spark-vs-DuckDB compare on a corpus LARGE
    enough that the training sample engages: both engines must pick
    the same sample, train the same centroids, and assign every
    vector identically."""
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    problems = run_compare(spark, big_emb_dir, qs[key], osql[key])
    assert problems == [], problems
