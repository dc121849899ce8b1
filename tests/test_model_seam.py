"""Transformer drop-in contract: a non-default BatchModel shipped as a
broadcast checkpoint must drive the whole pipeline (and the unfused oracle),
deserialized once per executor — the Spark analog of SageMaker's
once-per-container model_fn (src/sagemaker/re_inference.py:24-35). On a GPU
cluster the payload is the re_trf.py:51-65 checkpoint; the seam is the same."""

import pandas as pd
import pytest

from finance_sc_relations_spark.fixtures import company_universe, generate_corpus
from finance_sc_relations_spark.operators.models import (
    ConstantModel,
    model_from_broadcast,
    serialize_model,
)
from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline


def _bc(spark, scores, model_id="const-test"):
    return spark.sparkContext.broadcast(
        serialize_model(model_id, ConstantModel(scores))
    )


def test_broadcast_model_drives_fused_pipeline(spark):
    """ConstantModel([0.9,.05,.05]) labels EVERY pair 'supplier' at 0.9 —
    behavior the default lexical scorer can never produce on 'other'
    sentences, proving the broadcast model (not the default) ran."""
    pages_pdf, _, companies_pdf = generate_corpus(30)
    # reverse=False: the direction ensemble would average the constant row
    # with its swapped copy and obscure the exact 0.9 we assert on
    cfg = PipelineConfig(
        re_model_broadcast=_bc(spark, [0.9, 0.05, 0.05]), reverse=False
    )
    out = run_pipeline(
        spark,
        spark.createDataFrame(pages_pdf),
        spark.createDataFrame(companies_pdf),
        cfg,
    )
    cls = out["classified"].select("relation", "score").toPandas()
    assert len(cls) > 0
    assert set(cls["relation"]) == {"supplier"}
    assert (abs(cls["score"] - 0.9) < 1e-6).all()


def test_broadcast_model_drives_unfused_path_and_is_deterministic(
    spark, fused_and_unfused
):
    pages_pdf, _, companies_pdf = generate_corpus(20)
    cfg = PipelineConfig(
        reverse=False,
        re_model_broadcast=_bc(spark, [0.05, 0.9, 0.05], model_id="const-cus"),
    )
    out = run_pipeline(
        spark,
        spark.createDataFrame(pages_pdf),
        spark.createDataFrame(companies_pdf),
        cfg,
    )
    fused, unfused = fused_and_unfused(out, cfg)
    assert unfused == fused and len(unfused) > 0
    assert all(rel == "customer" for _, _, _, rel, _ in unfused)
    # deterministic across executions of both paths
    assert fused_and_unfused(out, cfg) == (fused, unfused)


def test_model_from_broadcast_caches_per_model_id(spark):
    """Singleton semantics: one deserialization per (executor, model_id)."""
    bc = _bc(spark, [0.3, 0.3, 0.4], model_id="cache-test")
    m1 = model_from_broadcast(bc)
    m2 = model_from_broadcast(bc)
    assert m1 is m2
    out = m1.score_batch(["a", "b"])
    assert out.shape == (2, 3)


def test_checkpoint_file_model_drives_both_paths(spark, tmp_path, fused_and_unfused):
    """The model.pth.tar flow (infer.py:67-133): a checkpoint FILE loaded
    once per executor (keyed by path+mtime) drives the pipeline on the fused
    AND unfused paths — the broadcast seam's sibling for --files / shared-fs
    shipped checkpoints."""
    from finance_sc_relations_spark.operators.models import (
        model_from_path,
        save_model_checkpoint,
    )

    ckpt = str(tmp_path / "model.pth.tar")
    save_model_checkpoint(ckpt, ConstantModel([0.05, 0.05, 0.9]))
    # per-executor singleton: same object back for the same (path, mtime)
    assert model_from_path(ckpt) is model_from_path(ckpt)
    # a REPLACED checkpoint (new mtime) must reload, not serve the stale one
    import os

    old = model_from_path(ckpt)
    save_model_checkpoint(ckpt, ConstantModel([0.9, 0.05, 0.05]))
    os.utime(ckpt, ns=(os.stat(ckpt).st_atime_ns, os.stat(ckpt).st_mtime_ns + 1))
    assert model_from_path(ckpt) is not old

    save_model_checkpoint(ckpt, ConstantModel([0.05, 0.9, 0.05]))
    pages_pdf, _, companies_pdf = generate_corpus(20)
    cfg = PipelineConfig(reverse=False, re_model_path=ckpt)
    out = run_pipeline(
        spark,
        spark.createDataFrame(pages_pdf),
        spark.createDataFrame(companies_pdf),
        cfg,
    )
    for rows in fused_and_unfused(out, cfg):
        assert len(rows) > 0
        assert {rel for _, _, _, rel, _ in rows} == {"customer"}
        assert all(abs(score - 0.9) < 1e-6 for *_, score in rows)


def test_broadcast_cache_keys_on_broadcast_not_id(spark):
    """Two broadcasts sharing a model_id (an SC and an RE head both named
    'model', or a retrained re-broadcast) must each load their OWN payload:
    the per-executor cache keys on the broadcast instance, so the first
    loader cannot poison the second."""
    from finance_sc_relations_spark.operators.models import (
        ConstantModel,
        model_from_broadcast,
        serialize_model,
    )

    sc = spark.sparkContext
    bc_a = sc.broadcast(serialize_model("model", ConstantModel([0.9, 0.1])))
    bc_b = sc.broadcast(serialize_model("model", ConstantModel([0.1, 0.9])))
    a = model_from_broadcast(bc_a)
    b = model_from_broadcast(bc_b)
    assert a.score_batch(["x"])[0].tolist() != b.score_batch(["x"])[0].tolist()
    # same broadcast -> cached instance
    assert model_from_broadcast(bc_b) is b
