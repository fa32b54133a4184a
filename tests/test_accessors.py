"""Reference API-surface accessors: pava_groups_/pava_blocks_, config JSON,
embedding near-dup dedup."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark import EngineConfig, SparkMonotonicBinner
from monotonic_optimal_binning_spark.operators.dedup import (
    embedding_neardup_dedup,
    embedding_neardup_pairs,
)
from test_parity_mob import make_binary_frame, ref_binner


def test_pava_groups_and_blocks_match_reference(spark):
    pdf = make_binary_frame(400, seed=55)
    ref = ref_binner(pdf)
    eng = SparkMonotonicBinner("x", "y")
    eng.fit(spark.createDataFrame(pdf))

    rg = ref.pava_groups_().reset_index(drop=True)
    eg = eng.pava_groups_().reset_index(drop=True)
    assert list(rg.columns) == list(eg.columns)
    for c in rg.columns:
        np.testing.assert_allclose(
            rg[c].to_numpy(float), eg[c].to_numpy(float), rtol=1e-9,
            err_msg=f"pava_groups column {c}",
        )

    rb = ref.pava_blocks_(as_dict=True)
    eb = eng.pava_blocks_(as_dict=True)
    assert len(rb) == len(eb)
    for r, e in zip(rb, eb):
        for k in ("left", "right", "n", "sum", "sum2", "ymin", "ymax", "mean", "std"):
            np.testing.assert_allclose(r[k], e[k], rtol=1e-9, err_msg=k)


def test_config_json_roundtrip(tmp_path):
    cfg = EngineConfig(epsilon=1e-10, default_prebins=64)
    p = str(tmp_path / "cfg.json")
    cfg.to_json(p)
    assert EngineConfig.from_json(p) == cfg
    assert not os.path.exists(p + ".tmp")
    # a file written before max_iterations/shuffle_partitions were retired
    # (nothing read them) still loads; the retired keys are ignored
    old = str(tmp_path / "old_cfg.json")
    with open(old, "w") as f:
        json.dump({"epsilon": 1e-10, "max_iterations": 1000,
                   "default_prebins": 64, "shuffle_partitions": 32}, f,
                  indent=2)
    assert EngineConfig.from_json(old) == cfg
    with pytest.raises(ValueError):
        EngineConfig(epsilon=float("nan")).to_json(p)
    assert EngineConfig.from_json(p) == cfg


def test_embedding_neardup(spark):
    rng = np.random.default_rng(2)
    base = rng.standard_normal((20, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 10, (v / np.linalg.norm(v)).tolist()))
        # near-duplicate: tiny perturbation
        w = v + rng.normal(0, 0.01, 8)
        rows.append((i * 10 + 1, (w / np.linalg.norm(w)).tolist()))
    pdf = pd.DataFrame(rows, columns=["vid", "emb"])
    sdf = spark.createDataFrame(pdf)

    pairs = embedding_neardup_pairs(
        sdf, "emb", "vid", dim=8, threshold=0.99, n_planes=12, n_bands=6
    ).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    expected = {(i * 10, i * 10 + 1) for i in range(20)}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.8, f"near-dup recall {recall}"
    # verified cosines really are >= threshold
    assert (pairs["cosine"] >= 0.99).all()

    deduped = embedding_neardup_dedup(
        sdf, "emb", "vid", dim=8, threshold=0.99, n_planes=12, n_bands=6
    ).toPandas()
    assert len(deduped) < len(pdf)
    # survivors always include the min id of each found pair
    for a, b in found:
        assert a in set(deduped["vid"]) or (a, b) not in expected
