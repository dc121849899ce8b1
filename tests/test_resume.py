"""Resume-equivalence: kill after stage k, rerun, identical final table
(BASELINE.md resumability target; reference analog block_job_files/add_results,
src/glue/glue_etl.py:313-444)."""

import json
import random
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from finance_sc_relations_spark.fixtures import write_fixture_parquet
from finance_sc_relations_spark.plans.checkpoint import (
    CheckpointManager,
    run_pipeline_checkpointed,
)
from finance_sc_relations_spark.plans.pipeline import KG_STAGES


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


def _never():
    raise AssertionError("recomputed!")


def test_run_stage_launches_only_the_write(spark, tmp_path, count_jobs):
    """Counting rows, appending _lineage and reading the stage back launch
    no Spark job: run_stage costs what a plain parquet write of the same
    frame costs, and a resumed run_stage or a lineage read costs none."""
    def frame():
        return (
            spark.range(2000).repartition(4)
            .withColumn("k", F.col("id") % 7)
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.collect_list("id").alias("ids"))
        )

    plain = count_jobs(lambda: frame().write.parquet(str(tmp_path / "plain")))
    ckpt = CheckpointManager(spark, tmp_path / "ckpt")
    assert 0 < count_jobs(lambda: ckpt.run_stage("s", frame, "fp")) <= plain
    resumed = CheckpointManager(spark, tmp_path / "ckpt")
    assert count_jobs(lambda: resumed.run_stage("s", _never, "fp")) == 0
    assert count_jobs(resumed.lineage) == 0
    assert resumed.read_stage("s").count() == 7


def test_full_resume_launches_no_job(spark, fixture_paths, tmp_path,
                                     count_jobs):
    """A checkpointed KG run whose every stage resumes reads neither input
    (no schema-inference job, no dictionary collect): it launches no Spark
    job at all."""
    pages_path, cd_path = fixture_paths
    root = tmp_path / "ckpt"
    run_pipeline_checkpointed(spark, pages_path, cd_path, root)
    out = {}
    assert count_jobs(lambda: out.update(
        run_pipeline_checkpointed(spark, pages_path, cd_path, root))) == 0
    assert out["linked_triples"].count() > 0


def test_full_curation_resume_launches_no_job(spark, tmp_path, count_jobs):
    """The same for the checkpointed curation runner, eval texts included."""
    from finance_sc_relations_spark.plans.curate import run_curation_checkpointed

    rng = random.Random(7)
    words = ("the and of a to in is for with on that data spark query table "
             "join scan filter group value stream window batch row").split()
    texts = [" ".join(rng.choice(words) for _ in range(80)) for _ in range(40)]
    docs_path, eval_path = str(tmp_path / "docs"), str(tmp_path / "evals")
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).write.parquet(docs_path)
    spark.createDataFrame([(t,) for t in texts[:3]], "text string").write.parquet(
        eval_path)
    root = tmp_path / "ckpt"
    cold = run_curation_checkpointed(spark, docs_path, root, eval_path)
    out = {}
    assert count_jobs(lambda: out.update(run_curation_checkpointed(
        spark, docs_path, root, eval_path))) == 0
    assert out["curated"].count() == cold["curated"].count() > 0


def test_lineage_counts_sum_the_files_of_one_task(spark, tmp_path):
    """A task that writes several part files (maxRecordsPerFile) yields one
    _lineage row whose count is the sum of its files' footers."""
    ckpt = CheckpointManager(spark, tmp_path / "c")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 3)
    try:
        ckpt.run_stage(
            "s", lambda: spark.range(20).repartition(2), input_fingerprint="a"
        )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert len(list((tmp_path / "c" / "s" / "data").glob("part-*"))) > 2
    lineage = ckpt.lineage().toPandas()
    assert sorted(lineage["partition_id"]) == [0, 1]
    assert lineage["output_rows"].sum() == 20


def test_manifest_without_schema_recomputes_once(spark, tmp_path):
    """A manifest that stores no schema marks the stage incomplete: the
    stage recomputes once, and the rewritten manifest then resumes."""
    CheckpointManager(spark, tmp_path / "c").run_stage(
        "s", lambda: spark.range(5).toDF("id"), input_fingerprint="a"
    )
    mp = tmp_path / "c" / "s" / "_MANIFEST.json"
    manifest = json.loads(mp.read_text())
    del manifest["schema"]
    mp.write_text(json.dumps(manifest))

    calls = []

    def build():
        calls.append(1)
        return spark.range(7).toDF("id")

    for _ in range(2):
        df = CheckpointManager(spark, tmp_path / "c").run_stage("s", build, "a")
        assert df.count() == 7
    assert len(calls) == 1


def test_stage_tables_keep_schema_and_footer_counts(spark, fixture_paths,
                                                    tmp_path):
    """A stage table read with its stored schema has the schema an inferring
    read finds, nested array/struct columns included; per stage, _lineage
    output_rows sum to the manifest's output_rows, which equal the table's
    row count."""
    pages_path, cd_path = fixture_paths
    root = tmp_path / "ckpt"
    ckpt = run_pipeline_checkpointed(spark, pages_path, cd_path, root)[
        "checkpoint"
    ]
    for stage in ("mentions", "linked_triples"):
        schema = ckpt.read_stage(stage).schema
        assert schema == spark.read.parquet(str(root / stage / "data")).schema
    assert any(
        isinstance(f.dataType, ArrayType)
        and isinstance(f.dataType.elementType, StructType)
        for f in ckpt.read_stage("mentions").schema.fields
    )
    lineage = ckpt.lineage().toPandas()
    for stage, *_ in KG_STAGES:
        manifest = json.loads((root / stage / "_MANIFEST.json").read_text())
        lineage_rows = lineage.loc[lineage.stage == stage, "output_rows"].sum()
        assert lineage_rows == manifest["output_rows"], stage
        assert manifest["output_rows"] == ckpt.read_stage(stage).count(), stage


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
    """The resume fingerprint keys a broadcast model on its pickled bytes:
    a retrained model invalidates; a re-broadcast of an identical model
    resumes; an accumulator's identity never matters."""
    from model_doubles import ConstantModel

    from finance_sc_relations_spark.plans.checkpoint import _cfg_signature
    from finance_sc_relations_spark.plans.pipeline import PipelineConfig

    sc = spark.sparkContext
    m1 = ConstantModel([0.8, 0.1, 0.1])
    m1_again = ConstantModel([0.8, 0.1, 0.1])
    m2 = ConstantModel([0.1, 0.8, 0.1])  # retrained

    sig = lambda m: _cfg_signature(
        PipelineConfig(re_model_broadcast=sc.broadcast(m))
    )
    assert sig(m1) == sig(m1_again)   # same content -> resume
    assert sig(m1) != sig(m2)         # new weights -> invalidate

    a1 = _cfg_signature(PipelineConfig(re_dropped_acc=sc.accumulator(0)))
    a2 = _cfg_signature(PipelineConfig(re_dropped_acc=sc.accumulator(0)))
    assert a1 == a2


def test_cfg_signature_sc_broadcasts_content_keyed(spark):
    """The SC seam's broadcast fields must be content-keyed like the RE
    ones: identical models resume, retrained models invalidate, and no
    broadcast object address ever reaches the fingerprint."""
    from model_doubles import ConstantModel

    from finance_sc_relations_spark.functions.wordpiece import (
        build_re_tokenizer,
    )
    from finance_sc_relations_spark.plans.checkpoint import _cfg_signature
    from finance_sc_relations_spark.plans.pipeline import PipelineConfig

    sc = spark.sparkContext
    m1 = ConstantModel([0.9, 0.1])
    m1_again = ConstantModel([0.9, 0.1])
    m2 = ConstantModel([0.1, 0.9])
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
