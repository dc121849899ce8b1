"""Transformer drop-in contract: a non-default BatchModel shipped as a
broadcast must drive the whole pipeline (and the unfused oracle), unpickled
once per Python worker — the Spark analog of SageMaker's once-per-container
model_fn (src/sagemaker/re_inference.py:24-35). On a GPU cluster the
broadcast value is the re_trf.py:51-65 model; the seam is the same."""

import os

from model_doubles import ConstantModel

from finance_sc_relations_spark.fixtures import generate_corpus
from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline


def _bc(spark, scores):
    return spark.sparkContext.broadcast(ConstantModel(scores))


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
        reverse=False, re_model_broadcast=_bc(spark, [0.05, 0.9, 0.05]),
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


def test_broadcast_state_built_once_per_worker(spark):
    """The broadcast value is the only per-worker cache: PySpark unpickles
    it once per Python worker, and the state built from it (the model
    itself, the gazetteer's compiled regex, the linking index) is kept on
    it. Two jobs of 8 tasks each report (pid, id(state)) per task; every
    worker pid must see exactly one object of each kind. pin() keeps each
    object alive, so a rebuilt object cannot reuse a freed one's id."""
    import pandas as pd

    from finance_sc_relations_spark.operators.linking import (
        _DictIndex,
        _dict_rows,
    )
    from finance_sc_relations_spark.operators.ner import _Gazetteer

    sc = spark.sparkContext
    model_bc = _bc(spark, [0.2, 0.3, 0.5])
    gaz_bc = sc.broadcast(_Gazetteer(["Sonexa Corporation", "Veltrix"]))
    index_bc = sc.broadcast(_DictIndex(_dict_rows(pd.DataFrame({
        "entity_id": ["LEI1"], "canonical_name": ["Sonexa Corporation"],
        "prefix2": ["so"], "aliases": [None],
    }))))

    def probe(_):
        import re

        from model_doubles import pin

        re.purge()  # a recompiled regex must not come from re's own cache
        yield (os.getpid(), *pin(model_bc.value, gaz_bc.value.regex,
                                 index_bc.value.index))

    rows = []
    for _ in range(2):
        rows += sc.parallelize(range(8), 8).mapPartitions(probe).collect()
    assert len(rows) == 16
    pids = {r[0] for r in rows}
    assert len(pids) < len(rows)  # workers were reused across tasks
    for kind in (1, 2, 3):
        per_pid = {}
        for r in rows:
            per_pid.setdefault(r[0], set()).add(r[kind])
        assert all(len(ids) == 1 for ids in per_pid.values()), (kind, per_pid)
