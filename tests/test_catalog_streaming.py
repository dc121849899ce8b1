"""Table catalog: partition overwrite, anti-join incremental ingest and
bucketed writes (`sources/catalog.py`); entity ids that do not depend on
the batch a page arrives in."""

from datetime import datetime, timezone

import pandas as pd

from finance_sc_relations_spark.fixtures import company_universe
from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline
from finance_sc_relations_spark.sources.catalog import TableCatalog


def test_catalog_roundtrip_and_partition_overwrite(spark, tmp_path):
    cat = TableCatalog(spark, tmp_path / "wh")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id long, part string, v long"
    )
    cat.create_or_replace(df, "t", partition_by=["part"])
    assert cat.read("t").count() == 3

    # dynamic partition overwrite: only partition 'a' replaced
    upd = spark.createDataFrame([(9, "a", 99)], "id long, part string, v long")
    cat.overwrite_partitions(upd, "t", partition_by=["part"])
    got = cat.read("t").toPandas().sort_values("id")
    assert set(got["id"]) == {3, 9}  # 'b' partition survived


def test_incremental_ingest_anti_join(spark, tmp_path):
    cat = TableCatalog(spark, tmp_path / "wh2")
    first = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    assert cat.incremental_ingest(first, "inc", key="id") == 2
    # overlapping batch: only id=3 is new
    second = spark.createDataFrame([(2, "y"), (3, "z")], "id long, v string")
    assert cat.incremental_ingest(second, "inc", key="id") == 1
    assert cat.read("inc").count() == 3
    # idempotent replay ingests nothing
    assert cat.incremental_ingest(second, "inc", key="id") == 0


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join without an Exchange on
    either side (co-located join; SURVEY §4 bucketing)."""
    cat = TableCatalog(spark, tmp_path / "whb")
    a = spark.range(0, 1000).withColumnRenamed("id", "k")
    b = spark.range(0, 1000).withColumnRenamed("id", "k")
    cat.write_bucketed(a, "bucketed_a", "k", n_buckets=8)
    cat.write_bucketed(b, "bucketed_b", "k", n_buckets=8)
    joined = cat.read_table("bucketed_a").join(cat.read_table("bucketed_b"), "k")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert joined.count() == 1000
    assert "+- Exchange" not in plan  # bucketed scan feeds the join directly
    spark.sql("DROP TABLE IF EXISTS bucketed_a")
    spark.sql("DROP TABLE IF EXISTS bucketed_b")


def test_streaming_entity_ids_stable_across_batches(spark, tmp_path):
    """The same dictionary-unknown company arriving in two separately
    ingested page batches (different urls and sentences) canonicalizes to
    the SAME entity id: SF: ids derive from the normalized surface form and
    matched ids from the dictionary, both batch-independent."""
    cd = spark.createDataFrame(company_universe())
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    texts = (
        "Zorblatt Industries Inc supplies components to Sonexa Inc.",
        "Zorblatt Industries Inc sells industrial modules to Sonexa Inc.",
    )
    ids = []
    for b, text in enumerate(texts):
        pdf = pd.DataFrame([dict(url=f"https://news.example{b}.com/a/{b}",
                                 warc_ts=ts, html=b"", text=text, lang="en")])
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us, UTC]")
        src = tmp_path / f"pages_b{b}.parquet"
        pdf.to_parquet(src, index=False)
        out = run_pipeline(spark, spark.read.parquet(str(src)), cd,
                           PipelineConfig())
        rows = out["linked_triples"].select("subj_id", "obj_id").collect()
        for df in out["cached"]:
            df.unpersist()
        assert len(rows) == 1
        assert rows[0]["subj_id"].startswith("SF:zorblatt")
        assert rows[0]["obj_id"].startswith("LEI")
        ids.append((rows[0]["subj_id"], rows[0]["obj_id"]))
    assert ids[0] == ids[1]  # same SF: and LEI ids in both batches
