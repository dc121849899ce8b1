"""Resume-equivalence: kill after stage k, rerun, identical final table
(BASELINE.md resumability target; reference analog block_job_files/add_results,
src/glue/glue_etl.py:313-444)."""

import shutil
from pathlib import Path

import pytest

from finance_sc_relations_spark.fixtures import write_fixture_parquet
from finance_sc_relations_spark.plans.checkpoint import (
    CheckpointManager,
    run_pipeline_checkpointed,
)


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    root = tmp_path_factory.mktemp("fixture")
    write_fixture_parquet(root, 80)
    return str(root / "pages.parquet"), str(root / "company_dict.parquet")


KG_FINAL = ("linked_triples", "edges", "edges_global", "vertices")


def _triples_set(out):
    rows = (
        out["linked_triples"]
        .select("sentence_id", "r_id", "subj_id", "obj_id")
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def _row_multiset(df):
    """Rows as a sorted multiset: arrays as tuples, float sums (scores)
    rounded to 1e-9 so summation order cannot tell two runs apart."""
    def value(v):
        if isinstance(v, list):
            return tuple(v)
        return round(v, 9) if isinstance(v, float) else v

    cols = sorted(df.columns)
    return sorted(
        (tuple(value(r[c]) for c in cols) for r in df.collect()), key=repr
    )


def test_full_run_then_resume_identical(spark, fixture_paths, tmp_path):
    """A cold checkpointed run, a resume over it, and the in-memory runner
    on the same parquet all yield the same four final tables."""
    from finance_sc_relations_spark.plans.pipeline import run_pipeline

    pages_path, cd_path = fixture_paths
    ckpt_root = tmp_path / "ckpt"

    out1 = run_pipeline_checkpointed(spark, pages_path, cd_path, ckpt_root)
    t1 = _triples_set(out1)
    assert len(t1) > 0

    # rerun with same checkpoint root: all stages resume (no recompute) and
    # the result is identical
    out2 = run_pipeline_checkpointed(spark, pages_path, cd_path, ckpt_root)
    assert _triples_set(out2) == t1

    # one DAG, two runners: the in-memory plan equals the stage tables
    eager = run_pipeline(spark, spark.read.parquet(pages_path),
                         spark.read.parquet(cd_path))
    for name in KG_FINAL:
        assert _row_multiset(eager[name]) == _row_multiset(out2[name]), name
    for df in eager["cached"]:
        df.unpersist()


def test_kill_mid_run_resumes(spark, fixture_paths, tmp_path):
    """Simulate a crash after the mentions stage: later stage tables
    missing, manifest for completed stages present -> rerun completes and
    matches a from-scratch run."""
    pages_path, cd_path = fixture_paths
    ckpt_a = tmp_path / "ckpt_a"
    ckpt_b = tmp_path / "ckpt_b"

    ref = run_pipeline_checkpointed(spark, pages_path, cd_path, ckpt_a)
    expected = _triples_set(ref)

    # full run in B, then delete everything after 'mentions' to simulate
    # the kill
    run_pipeline_checkpointed(spark, pages_path, cd_path, ckpt_b)
    for stage in ["classified", "triples", "linked_surfaces",
                  "surface_to_entity", "linked_triples", "edges",
                  "edges_global", "vertices"]:
        shutil.rmtree(ckpt_b / stage)

    out = run_pipeline_checkpointed(spark, pages_path, cd_path, ckpt_b)
    assert _triples_set(out) == expected


def test_lineage_rows_written(spark, fixture_paths, tmp_path):
    pages_path, cd_path = fixture_paths
    ckpt_root = tmp_path / "ckpt"
    out = run_pipeline_checkpointed(spark, pages_path, cd_path, ckpt_root)
    lineage = out["checkpoint"].lineage().toPandas()
    stages = set(lineage["stage"])
    assert {"sentences", "mentions", "classified", "triples",
            "linked_surfaces", "surface_to_entity", "linked_triples", "edges",
            "edges_global", "vertices"} <= stages
    assert (lineage["output_rows"] >= 0).all()
    assert (lineage["wall_ms"] >= 0).all()


def test_fingerprint_change_invalidates(spark, fixture_paths, tmp_path):
    """A changed input fingerprint must force recompute, not stale reads."""
    pages_path, cd_path = fixture_paths
    ckpt = CheckpointManager(spark, tmp_path / "c")
    df1 = ckpt.run_stage(
        "s", lambda: spark.range(5).toDF("id"), input_fingerprint="a"
    )
    assert df1.count() == 5
    df2 = ckpt.run_stage(
        "s", lambda: spark.range(9).toDF("id"), input_fingerprint="b"
    )
    assert df2.count() == 9
    # same fingerprint -> resume (function that would fail is never called)
    df3 = ckpt.run_stage(
        "s", lambda: (_ for _ in ()).throw(AssertionError("recomputed!")),
        input_fingerprint="b",
    )
    assert df3.count() == 9


def test_lineage_partition_counts_sum_to_output(spark, fixture_paths, tmp_path):
    pages_path, cd_path = fixture_paths
    out = run_pipeline_checkpointed(spark, pages_path, cd_path, tmp_path / "c2")
    lineage = out["checkpoint"].lineage().toPandas()
    triples_rows = lineage[lineage.stage == "triples"]
    assert triples_rows["output_rows"].sum() == out["triples"].count()
    assert triples_rows["partition_id"].nunique() == len(triples_rows)


def test_in_place_input_regeneration_invalidates(spark, tmp_path):
    """Same input PATHS, different content: completed stages must NOT be
    silently reused (the fingerprint folds in a file-level content signal)."""
    import os
    import time

    root = tmp_path / "fx"
    write_fixture_parquet(root, 30)
    pages_path = str(root / "pages.parquet")
    cd_path = str(root / "company_dict.parquet")
    ckpt_root = tmp_path / "ckpt_inplace"

    out1 = run_pipeline_checkpointed(spark, pages_path, cd_path, ckpt_root)
    n1 = out1["linked_triples"].count()

    # regenerate IN PLACE with a different corpus size
    shutil.rmtree(root)
    write_fixture_parquet(root, 60)
    # ensure the mtime signal moves even on coarse filesystem clocks
    now = time.time() + 2
    for f in Path(pages_path).rglob("*"):
        if f.is_file():
            os.utime(f, (now, now))

    out2 = run_pipeline_checkpointed(spark, pages_path, cd_path, ckpt_root)
    n2 = out2["linked_triples"].count()
    assert n2 > n1  # recomputed from the new input, not stale


def test_curation_checkpoint_resume_and_invalidation(spark, tmp_path):
    """Resumable curation: second run with the same root recomputes nothing
    (manifests keep the first run's run_id), survivors match the eager
    curate_corpus, per-stage survivor counts ride the _lineage table, and
    an in-place input rewrite invalidates every stage."""
    import json

    from finance_sc_relations_spark.plans.curate import (
        curate_corpus,
        run_curation_checkpointed,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(120)
    )
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    root = tmp_path / "ckpt"

    out1 = run_curation_checkpointed(spark, docs_path, root)
    got1 = sorted(r["doc_id"] for r in out1["curated"].collect())

    eager = curate_corpus(spark.read.parquet(docs_path))
    assert got1 == sorted(r["doc_id"] for r in eager["curated"].collect())

    # lineage has one stage row-group per gate with survivor counts
    lin = out1["lineage"].toPandas()
    stages = set(lin["stage"])
    assert {"curate_lang", "curate_quality", "curate_exact_dedup",
            "curate_near_dup"} <= stages

    # resume: new run, same root -> stages read back, manifests untouched
    out2 = run_curation_checkpointed(spark, docs_path, root)
    assert sorted(r["doc_id"] for r in out2["curated"].collect()) == got1
    m = json.loads((root / "curate_near_dup" / "_MANIFEST.json").read_text())
    assert m["run_id"] == out1["run_id"]  # not rewritten by run 2

    # in-place input rewrite -> fingerprint changes -> stages recompute
    spark.read.parquet(docs_path).limit(60).write.mode("overwrite").parquet(
        docs_path
    )
    out3 = run_curation_checkpointed(spark, docs_path, root)
    m3 = json.loads((root / "curate_near_dup" / "_MANIFEST.json").read_text())
    assert m3["run_id"] == out3["run_id"] != out1["run_id"]
    assert out3["curated"].count() <= 60


def test_checkpointed_pipeline_tokenizer_seam_and_stable_fp(spark, tmp_path, fixture_corpus):
    """The checkpointed runner honors the token-ID config (same triples as
    the eager run under the same gate) and the resume fingerprint is
    STABLE across processes even though a broadcast tokenizer rides the
    config: two invocations with two different broadcast objects carrying
    the same vocab resume instead of recomputing."""
    import json

    from finance_sc_relations_spark.functions.wordpiece import build_re_tokenizer
    from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline

    pages_pdf, _, companies_pdf = fixture_corpus
    pages = spark.createDataFrame(pages_pdf.head(30))
    cd = spark.createDataFrame(companies_pdf)
    pages_path = str(tmp_path / "pages.parquet")
    cd_path = str(tmp_path / "cd.parquet")
    pages.write.parquet(pages_path)
    cd.write.parquet(cd_path)

    vocab_src = [r for r in pages_pdf.head(30)["text"]]
    tok1 = build_re_tokenizer(vocab_src, vocab_size=4000, min_freq=1)

    def cfg_with(tok):
        return PipelineConfig(
            re_tokenizer_broadcast=spark.sparkContext.broadcast(tok),
            re_max_length=512,
        )

    root = tmp_path / "ckpt"
    out1 = run_pipeline_checkpointed(spark, pages_path, cd_path, root,
                                     config=cfg_with(tok1))
    got = sorted(map(tuple, out1["linked_triples"]
                 .select("sentence_id", "subj_id", "obj_id").distinct().collect()))

    eager = run_pipeline(spark, spark.read.parquet(pages_path),
                         spark.read.parquet(cd_path), cfg_with(tok1))
    want = sorted(map(tuple, eager["linked_triples"]
                  .select("sentence_id", "subj_id", "obj_id").distinct().collect()))
    assert got == want and len(got) > 0

    # a NEW broadcast of the SAME vocab -> fingerprint unchanged -> resume
    m1 = json.loads((root / "classified" / "_MANIFEST.json").read_text())
    tok2 = build_re_tokenizer(vocab_src, vocab_size=4000, min_freq=1)
    run_pipeline_checkpointed(spark, pages_path, cd_path, root,
                              config=cfg_with(tok2))
    m2 = json.loads((root / "classified" / "_MANIFEST.json").read_text())
    assert m2["run_id"] == m1["run_id"]  # stage was read back, not rerun

    # a DIFFERENT vocab -> fingerprint changes -> stage recomputes
    tok3 = build_re_tokenizer(vocab_src + ["extra vocabulary entry"],
                              vocab_size=4000, min_freq=1)
    out3 = run_pipeline_checkpointed(spark, pages_path, cd_path, root,
                                     config=cfg_with(tok3))
    m3 = json.loads((root / "classified" / "_MANIFEST.json").read_text())
    assert m3["run_id"] != m1["run_id"]


def test_cfg_signature_model_content_keys(spark):
    """The resume fingerprint keys broadcast models on id AND payload: a
    retrained model under the same id invalidates; a re-broadcast of the
    identical payload resumes; an accumulator's identity never matters."""
    from finance_sc_relations_spark.operators.models import (
        ConstantModel,
        serialize_model,
    )
    from finance_sc_relations_spark.plans.checkpoint import _cfg_signature
    from finance_sc_relations_spark.plans.pipeline import PipelineConfig

    sc = spark.sparkContext
    m1 = serialize_model("re_head", ConstantModel([0.8, 0.1, 0.1]))
    m1_again = serialize_model("re_head", ConstantModel([0.8, 0.1, 0.1]))
    m2 = serialize_model("re_head", ConstantModel([0.1, 0.8, 0.1]))  # retrained

    sig = lambda m: _cfg_signature(
        PipelineConfig(re_model_broadcast=sc.broadcast(m))
    )
    assert sig(m1) == sig(m1_again)   # same content -> resume
    assert sig(m1) != sig(m2)         # same id, new weights -> invalidate

    a1 = _cfg_signature(PipelineConfig(re_dropped_acc=sc.accumulator(0)))
    a2 = _cfg_signature(PipelineConfig(re_dropped_acc=sc.accumulator(0)))
    assert a1 == a2


def test_cfg_signature_model_path_content_keys(tmp_path):
    """A retrained model.pth.tar REWRITTEN TO THE SAME PATH must change the
    resume fingerprint (ADVICE r4): the path string alone would silently
    resume stale scored/triple stages against the new weights."""
    from finance_sc_relations_spark.operators.models import (
        ConstantModel,
        save_model_checkpoint,
    )
    from finance_sc_relations_spark.plans.checkpoint import _cfg_signature
    from finance_sc_relations_spark.plans.pipeline import PipelineConfig

    path = tmp_path / "model.pth.tar"
    save_model_checkpoint(path, ConstantModel([0.8, 0.1, 0.1]))
    sig1 = _cfg_signature(PipelineConfig(re_model_path=str(path)))
    sig1_again = _cfg_signature(PipelineConfig(re_model_path=str(path)))
    assert sig1 == sig1_again  # untouched file -> resume

    save_model_checkpoint(path, ConstantModel([0.1, 0.8, 0.1]))  # retrained
    # the (size, mtime_ns) signature sees the rewrite even when the pickle
    # payload is byte-length-identical (mtime_ns moved)
    assert _cfg_signature(PipelineConfig(re_model_path=str(path))) != sig1


def test_cfg_signature_sc_broadcasts_content_keyed(spark):
    """The SC seam's broadcast fields must be content-keyed like the RE
    ones: identical payloads resume, retrained payloads invalidate, and no
    broadcast object address ever reaches the fingerprint."""
    from finance_sc_relations_spark.operators.models import (
        ConstantModel,
        serialize_model,
    )
    from finance_sc_relations_spark.functions.wordpiece import (
        build_re_tokenizer,
    )
    from finance_sc_relations_spark.plans.checkpoint import _cfg_signature
    from finance_sc_relations_spark.plans.pipeline import PipelineConfig

    sc = spark.sparkContext
    m1 = serialize_model("sc_head", ConstantModel([0.9, 0.1]))
    m1_again = serialize_model("sc_head", ConstantModel([0.9, 0.1]))
    m2 = serialize_model("sc_head", ConstantModel([0.1, 0.9]))
    sig = lambda m: _cfg_signature(
        PipelineConfig(sc_model_broadcast=sc.broadcast(m))
    )
    assert sig(m1) == sig(m1_again)
    assert sig(m1) != sig(m2)

    t1 = build_re_tokenizer(["alpha beta"], min_freq=1)
    t2 = build_re_tokenizer(["gamma delta"], min_freq=1)
    tsig = lambda t: _cfg_signature(
        PipelineConfig(sc_tokenizer_broadcast=sc.broadcast(t))
    )
    same = build_re_tokenizer(["alpha beta"], min_freq=1)
    assert tsig(t1) == tsig(same)
    assert tsig(t1) != tsig(t2)
