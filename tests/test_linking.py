"""Entity linking: prefix-blocked fuzzy matching, and corpus-level
connected-components canonicalization of dictionary-unknown surfaces."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from finance_sc_relations_spark.fixtures import company_universe
from finance_sc_relations_spark.operators.linking import (
    canonicalize_unmatched,
    link_surfaces,
    normalize_name,
    normalized_name_col,
)
from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline
from finance_sc_relations_spark.schemas import PAGES


def test_normalize_matches_reference_rules(spark):
    # reporter.py:148-156: strip punct, lowercase, drop 'the', drop spaces
    assert normalize_name("The Acme Corp.") == "acmecorp"
    df = spark.createDataFrame([("The Acme Corp.",)], "s string")
    got = df.select(normalized_name_col("s").alias("n")).collect()[0]["n"]
    assert got == "acmecorp"


def test_exact_and_fuzzy_linking(spark):
    cd = spark.createDataFrame(company_universe())
    surfaces = spark.createDataFrame(
        [("Sonexa",), ("Sonexa Corporation",), ("Quantrix Semiconductors Corporation",),
         ("Quantrix Semiconductors Corp",),  # fuzzy variant
         ("Totally Unknown Ventures LLC",)],
        "surface string",
    )
    linked = {r["surface"]: (r["entity_id"], r["link_score"])
              for r in link_surfaces(surfaces, cd).collect()}
    assert linked["Sonexa"][1] == 1.0  # exact
    assert linked["Quantrix Semiconductors Corporation"][1] == 1.0
    # fuzzy variant links to the same entity above the 0.95 gate
    assert (
        linked["Quantrix Semiconductors Corp"][0]
        == linked["Quantrix Semiconductors Corporation"][0]
    )
    assert linked["Totally Unknown Ventures LLC"][0] is None


def test_connected_components_unify_alias_chain(spark):
    """Unknown surfaces linked by alias edges collapse to one canonical id,
    including transitive chains (a-b, b-c -> one component)."""
    cd = spark.createDataFrame(company_universe())
    surfaces = spark.createDataFrame(
        [("Zorblatt Industries Inc",), ("Zorblatt",), ("ZII Holdings",),
         ("Lonely Startup Inc",)],
        "surface string",
    )
    linked = link_surfaces(surfaces, cd)
    alias_edges = spark.createDataFrame(
        [("Zorblatt Industries Inc", "Zorblatt"), ("Zorblatt", "ZII Holdings")],
        "target string, alias string",
    )
    s2e = {r["surface"]: r["entity_id"]
           for r in canonicalize_unmatched(linked, alias_edges).collect()}
    assert s2e["Zorblatt Industries Inc"] == s2e["Zorblatt"] == s2e["ZII Holdings"]
    assert s2e["Zorblatt"].startswith("SF:")
    assert s2e["Lonely Startup Inc"] != s2e["Zorblatt"]


def test_alias_of_matched_surface_inherits_lei_without_duplicates(spark):
    """The 'Full Name ("Alias")' pattern: full name is in the dictionary,
    alias is not. The matched surface must appear exactly once (its LEI row —
    no propagated SF: duplicate that would fan out downstream triple joins),
    and the unmatched alias inherits the matched neighbor's LEI."""
    linked = spark.createDataFrame(
        [("Acme Corporation", "LEI1", "Acme Corporation", 1.0),
         ("ACME", None, None, None),
         ("Unrelated Co", None, None, None)],
        "surface string, entity_id string, matched_name string, link_score float",
    )
    alias_edges = spark.createDataFrame(
        [("Acme Corporation", "ACME")], "target string, alias string"
    )
    rows = canonicalize_unmatched(linked, alias_edges).collect()
    by_surface = {}
    for r in rows:
        by_surface.setdefault(r["surface"], []).append(r["entity_id"])
    assert by_surface["Acme Corporation"] == ["LEI1"]  # exactly one row
    assert by_surface["ACME"] == ["LEI1"]  # inherited through the edge
    assert by_surface["Unrelated Co"][0].startswith("SF:")
    assert len(rows) == 3


def test_pipeline_links_unknown_company_via_pattern_tier(spark):
    """A company absent from the dictionary is still detected (pattern-tier
    NER), extracted, and canonicalized with a stable SF: id."""
    import pandas as pd
    from datetime import datetime, timezone

    cd = spark.createDataFrame(company_universe())
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        pd.DataFrame(
            [
                dict(url="u1", warc_ts=ts, html=b"",
                     text="Zorblatt Industries Inc supplies components to Sonexa Inc.",
                     lang="en"),
            ]
        )
    )
    out = run_pipeline(spark, pages, cd, PipelineConfig())
    rows = out["linked_triples"].collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["subj_id"].startswith("SF:zorblatt")
    assert r["obj_id"].startswith("LEI")


def test_k_hop_paths(spark):
    from finance_sc_relations_spark.operators.graph import k_hop_paths

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "subj_id string, obj_id string",
    )
    two = {(r.src, r.dst) for r in k_hop_paths(edges, k=2).collect()}
    assert ("a", "c") in two and ("b", "d") in two
    assert ("a", "d") not in two  # that's 3 hops
    three = {(r.src, r.dst) for r in k_hop_paths(edges, k=3).collect()}
    assert ("a", "d") in three


def test_k_hop_per_src_cap_no_global_funnel(spark):
    """max_paths_per_hop caps per SOURCE (window), not globally: a hot hub
    must not starve other sources' paths."""
    from finance_sc_relations_spark.operators.graph import k_hop_paths

    edges = [("hub", f"m{i}") for i in range(20)]
    edges += [(f"m{i}", f"t{i}") for i in range(20)]
    edges += [("a", "b"), ("b", "c")]
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    two = k_hop_paths(df, k=2, max_paths_per_hop=5).toPandas()
    by_src = two.groupby("src").size().to_dict()
    assert by_src.get("hub", 0) == 5  # capped
    assert ("a", "c") in {(r.src, r.dst) for r in two.itertuples(index=False)}


def test_link_surfaces_emits_candidate_lists(spark):
    """L6: every surface carries its top-k sub-match-threshold candidates
    (reference org_links matches/candidates split, reporter.py:203-237).
    The Sonexa family is planted in the dictionary as near-duplicates."""
    cd = spark.createDataFrame(company_universe())
    surfaces = spark.createDataFrame(
        [("Sonexa",), ("Veltrix Systems",), ("Totally Unknown Ventures LLC",)],
        "surface string",
    )
    rows = {r["surface"]: r for r in link_surfaces(surfaces, cd).collect()}
    # exact match: siblings above match_thresh are matches, NOT candidates
    sonexa = rows["Sonexa"]
    assert sonexa["entity_id"] is not None and sonexa["link_score"] == 1.0
    cand_names = [c["name"] for c in sonexa["candidates"]]
    assert sonexa["matched_name"] not in cand_names
    # a candidate-band sibling (cand_thresh <= score < match_thresh) is
    # reported: 'Veltrix Systems GmbH' scores ~0.82 against 'Veltrix Systems'
    veltrix = rows["Veltrix Systems"]
    v_cands = {c["name"]: c for c in veltrix["candidates"]}
    assert "Veltrix Systems GmbH" in v_cands
    assert 0.8 <= v_cands["Veltrix Systems GmbH"]["score"] < 0.95
    assert all(0.8 <= c["score"] < 0.95 for c in veltrix["candidates"])
    assert len(veltrix["candidates"]) <= 5
    # no prefix block -> empty list, not null
    assert rows["Totally Unknown Ventures LLC"]["candidates"] is not None


def test_doc_relations_carry_candidate_ids(spark):
    """The rollup exposes extractedNameId/-CandidateIds analogs when the
    linked surface table is supplied."""
    from finance_sc_relations_spark.fixtures import generate_corpus
    from finance_sc_relations_spark.operators.reporter import aggregate_doc_relations

    pages_pdf, _, companies_pdf = generate_corpus(40)
    cd = spark.createDataFrame(companies_pdf)
    out = run_pipeline(
        spark, spark.createDataFrame(pages_pdf), cd, PipelineConfig()
    )
    agg = aggregate_doc_relations(
        out["linked_triples"], out["mentions"], linked=out["linked_surfaces"]
    )
    cols = set(agg.columns)
    assert {"company_entity_id", "candidate_ids"} <= cols
    pdf = agg.toPandas()
    assert len(pdf) > 0
    assert pdf["company_entity_id"].notna().any()


def test_distributed_linking_equals_broadcast_tier(spark):
    """The cogroup-by-prefix large-dictionary tier must produce the same
    links AND candidate lists as the broadcast tier."""
    from finance_sc_relations_spark.operators.linking import (
        link_surfaces_distributed,
    )

    cd = spark.createDataFrame(company_universe())
    surfaces = spark.createDataFrame(
        [("Sonexa",), ("Sonexa Corporation",), ("Veltrix Systems",),
         ("Quantrix Semiconductors Corp",), ("Totally Unknown Ventures LLC",),
         ("Quantrix",)],
        "surface string",
    )

    def norm(df):
        return {
            r["surface"]: (
                r["entity_id"], r["matched_name"],
                None if r["link_score"] is None else round(r["link_score"], 5),
                tuple((c["name"], c["entity_id"], round(c["score"], 5))
                      for c in sorted(r["candidates"],
                                      key=lambda c: (-c["score"], c["name"]))),
            )
            for r in df.collect()
        }

    broadcast_out = norm(link_surfaces(surfaces, cd))
    distributed_out = norm(link_surfaces_distributed(surfaces, cd))
    assert broadcast_out == distributed_out


def test_pipeline_with_forced_distributed_linking(spark):
    """run_pipeline with distributed_linking=True yields the same linked
    triples as the broadcast tier on the fixture corpus, with a
    multi-alias dictionary row."""
    from finance_sc_relations_spark.fixtures import generate_corpus

    pages_pdf, _, companies_pdf = generate_corpus(40)
    # a company with two aliases: collected through toPandas, its aliases
    # arrive as a numpy array in the gazetteer and both linking tiers
    companies_pdf = companies_pdf.copy()
    companies_pdf.at[0, "aliases"] = ["Quantrix", "Quantrix Semi"]
    outs = []
    for dist in (False, True):
        out = run_pipeline(
            spark,
            spark.createDataFrame(pages_pdf),
            spark.createDataFrame(companies_pdf),
            PipelineConfig(distributed_linking=dist),
        )
        outs.append(sorted(
            (r["sentence_id"], r["subj_id"], r["obj_id"])
            for r in out["linked_triples"].collect()
        ))
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_pagerank_power_iteration(spark):
    """Join-based PageRank: ranks sum to ~n (dangling mass redistributed),
    a hub pointed to by everyone outranks leaves, deterministic."""
    from finance_sc_relations_spark.operators.graph import pagerank

    edges = [(f"n{i}", "hub") for i in range(10)]
    edges += [("hub", "n0")]
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    pr = {r["entity_id"]: r["rank"] for r in pagerank(df, iterations=12).collect()}
    assert abs(sum(pr.values()) - len(pr)) < 1e-6
    assert pr["hub"] > pr["n1"] and pr["n0"] > pr["n1"]
    pr2 = {r["entity_id"]: r["rank"] for r in pagerank(df, iterations=12).collect()}
    assert pr == pr2


def test_distributed_linking_salted_block_equality(spark):
    """Salting the cogroup key must not change any link or candidate —
    including a hot block where many surfaces share one prefix."""
    from finance_sc_relations_spark.operators.linking import (
        link_surfaces_distributed,
    )

    cd = spark.createDataFrame(company_universe())
    hot = [(f"Sonexa Venture {i} LLC",) for i in range(40)]  # all prefix 'so'
    surfaces = spark.createDataFrame(
        hot + [("Sonexa",), ("Veltrix Systems",)], "surface string"
    )

    def norm(df):
        return {
            r["surface"]: (
                r["entity_id"],
                tuple(sorted((c["name"], round(c["score"], 5))
                             for c in r["candidates"])),
            )
            for r in df.collect()
        }

    unsalted = norm(link_surfaces_distributed(surfaces, cd, salt_buckets=1))
    salted = norm(link_surfaces_distributed(surfaces, cd, salt_buckets=4))
    assert unsalted == salted and len(salted) == 42


def _final_plan(df) -> str:
    """The executed (final AQE) physical plan of an already-run frame."""
    return df._jdf.queryExecution().executedPlan().toString()


def _broadcast_hinted(df) -> bool:
    """Whether a broadcast hint appears in df's analyzed or optimized plan
    (a persisted frame's optimized plan is its InMemoryRelation, so the
    analyzed plan is where a hint in its lineage would show)."""
    qe = df._jdf.queryExecution()
    return any("strategy=broadcast" in p.toString()
               for p in (qe.analyzed(), qe.optimizedPlan()))


def test_link_triples_aqe_broadcasts_small_map(spark):
    """link_triples carries no broadcast hint and runs no size probe: the
    map is per-distinct-corpus-surface, far too big to broadcast at web
    scale (VERDICT r2 #1). A small map still ends up broadcast — AQE reads
    its runtime size and rewrites the join."""
    from finance_sc_relations_spark.operators.graph import link_triples

    triples = spark.createDataFrame(
        [("u", "s0", "r0", "A", "supplies_to", "B", 0.9),
         ("u", "s1", "r0", "B", "supplies_to", "C", 0.8)],
        "url string, sentence_id string, r_id string, subj_surface string,"
        " pred string, obj_surface string, score double",
    )
    s2e = spark.createDataFrame(
        [("A", "LEI1"), ("B", "LEI2")], "surface string, entity_id string"
    )
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("link_triples_probe", "no eager jobs")
    try:
        linked = link_triples(triples, s2e)
        assert tracker.getJobIdsForGroup("link_triples_probe") == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert not _broadcast_hinted(linked)
    rows = sorted(
        (r["sentence_id"], r["subj_id"], r["obj_id"]) for r in linked.collect()
    )
    assert rows == [("s0", "LEI1", "LEI2"), ("s1", "LEI2", None)]
    assert "BroadcastHashJoin" in _final_plan(linked)


def test_pipeline_surface_map_join_left_to_aqe(spark):
    """Through the full pipeline, the linked-triples plan carries no
    broadcast hint for the surface map, and AQE broadcasts the small
    fixture map at runtime; the linked-surface frame is persisted once."""
    from finance_sc_relations_spark.fixtures import generate_corpus

    pages_pdf, _, companies_pdf = generate_corpus(30)
    out = run_pipeline(
        spark,
        spark.createDataFrame(pages_pdf),
        spark.createDataFrame(companies_pdf),
        PipelineConfig(distributed_linking=False),
    )
    linked = out["linked_triples"]
    assert not _broadcast_hinted(linked)
    assert len(linked.collect()) > 0
    assert "BroadcastHashJoin" in _final_plan(linked)
    assert any(df is out["linked_surfaces"] for df in out["cached"])
    for df in out["cached"]:
        df.unpersist()


def test_linking_index_built_once_per_worker():
    """The mapInPandas function is shipped to every task by cloudpickle;
    two deserialized copies running in one Python worker must share one
    dictionary index build (the index cache lives in the module, not in a
    pickled copy of it). Also covers a multi-alias numpy row."""
    import numpy as np
    from types import SimpleNamespace

    from pyspark import cloudpickle

    from finance_sc_relations_spark.operators import linking

    dict_pdf = pd.DataFrame({
        "entity_id": ["LEI1", "LEI2"],
        "canonical_name": ["Sonexa Corporation", "Veltrix Systems"],
        "prefix2": ["so", "ve"],
        "aliases": [np.array(["Sonexa", "Sonexa Corp"]), None],
    })
    rows = linking._dict_rows(dict_pdf)
    assert len(rows) == 4
    token = "test-linking-index-once"
    linker = linking._surface_linker(
        SimpleNamespace(value=rows), token, 0.8, 0.95, 5
    )
    payload = cloudpickle.dumps(linker)
    batch = pd.DataFrame({"surface": ["Sonexa", "Veltrix Systems", "Nobody"]})

    linking._DICT_INDEX_CACHE.clear()
    first = pd.concat(cloudpickle.loads(payload)(iter([batch])))
    index = linking._DICT_INDEX_CACHE.get(token)
    assert index is not None  # built into the module's cache
    second = pd.concat(cloudpickle.loads(payload)(iter([batch])))
    assert linking._DICT_INDEX_CACHE.get(token) is index  # no rebuild
    assert list(first["entity_id"]) == ["LEI1", "LEI2", None]
    assert first.drop(columns="candidates").equals(
        second.drop(columns="candidates")
    )


def test_pagerank_constant_work_per_iteration(spark):
    """The iterative shape: every iteration materializes ONE checkpointed
    distributed pass over constant-depth lineage — no per-iteration driver
    collect re-executing un-checkpointed rank lineage (VERDICT r2 #2). The
    r2 shape grew the plan within each checkpoint window, so stages-per-
    iteration increased as iterations progressed; now the stage count per
    added iteration must be flat (late iterations no costlier than early)."""
    from finance_sc_relations_spark.operators.graph import pagerank

    edges = [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(40)]
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def stages_for(iterations):
        group = f"pr_{iterations}"
        sc.setJobGroup(group, "pagerank stage-count probe")
        try:
            pagerank(df, iterations=iterations).count()
        finally:
            sc.setJobGroup(None, None)
        return sum(
            len(tracker.getJobInfo(j).stageIds)
            for j in tracker.getJobIdsForGroup(group)
        )

    s2, s6, s10 = stages_for(2), stages_for(6), stages_for(10)
    early, late = s6 - s2, s10 - s6
    assert late <= early * 1.25 + 4, (
        f"per-iteration work grows: stages 2->6 {early}, 6->10 {late}"
    )


def test_canonicalize_long_alias_chain_inherits_lei(spark):
    """A 30-surface alias chain anchored by ONE dictionary match at the far
    end: every surface must inherit the LEI within the default iteration cap
    (one-hop propagation needs 29 rounds; pointer jumping needs ~5)."""
    import warnings

    from finance_sc_relations_spark.operators.linking import (
        canonicalize_unmatched,
    )

    n = 30
    surfaces = [f"Chain Co {i:02d}" for i in range(n)]
    linked = spark.createDataFrame(
        [(surfaces[0], "LEI000042")] + [(s, None) for s in surfaces[1:]],
        "surface string, entity_id string",
    )
    alias_edges = spark.createDataFrame(
        [(surfaces[i], surfaces[i + 1]) for i in range(n - 1)],
        "target string, alias string",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = {
            r["surface"]: r["entity_id"]
            for r in canonicalize_unmatched(
                linked, alias_edges, max_iterations=8
            ).collect()
        }
    assert len(out) == n
    assert set(out.values()) == {"LEI000042"}


def test_sort_prefix_second_level_blocking():
    """L5 second level (reporter.py:158-165): 5-char sort prefix of the
    punct-stripped lowercase name, plus the leading-'the' dual query."""
    from finance_sc_relations_spark.operators.linking import (
        sort_normalize,
        sort_prefixes,
    )

    assert sort_normalize("Acme-Corp. Inc") == "acmecorp inc"
    assert sort_prefixes("Acme Corporation") == ["acme"]  # trailing space stripped
    # leading 'the': both the the-inclusive 9-char and de-the'd 5-char keys
    assert sort_prefixes("The Acme Corporation") == ["the acme", "acme"]
    assert sort_prefixes("Zy") == ["zy"]  # short names: whole string


def test_sort_prefix_gates_fuzzy_candidates_both_tiers(spark):
    """Two dictionary entries share prefix2 but differ in the first five
    sort chars; a fuzzy surface may only match/candidate the sort-compatible
    one — in BOTH linking tiers (the DynamoDB begins_with condition)."""
    import pandas as pd

    from finance_sc_relations_spark.operators.linking import (
        link_surfaces,
        link_surfaces_distributed,
    )

    cd_pdf = pd.DataFrame(
        [
            {"entity_id": "LEI1", "canonical_name": "Sonexa Materials Inc",
             "prefix2": "so", "aliases": []},
            # same prefix2 'so', different sort prefix ('solan' vs 'sonex')
            {"entity_id": "LEI2", "canonical_name": "Solanex Materials Inc",
             "prefix2": "so", "aliases": []},
        ]
    )
    cd = spark.createDataFrame(cd_pdf)
    surfaces = spark.createDataFrame(
        [("Sonexa Materials Incorporated",)], "surface string"
    )
    for tier in (
        lambda: link_surfaces(surfaces, cd_pdf, match_thresh=0.9),
        lambda: link_surfaces_distributed(surfaces, cd, match_thresh=0.9),
    ):
        rows = tier().collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["entity_id"] == "LEI1"
        cand_ids = {c["entity_id"] for c in r["candidates"]}
        assert "LEI2" not in cand_ids  # sort-prefix-incompatible


def test_distributed_linking_hot_prefix_skew_spread(spark):
    """A degree-1000 hot prefix block (the 'th'/'so' surname-prefix shape a
    web corpus concentrates) must (a) link identically to the broadcast
    tier and (b) actually be SPREAD across salt sub-blocks — the cogroup is
    one task per key, so without salting the hot block would be a single
    straggler task doing the whole block's scoring."""
    from finance_sc_relations_spark.operators.linking import (
        link_surfaces_distributed,
        normalized_name_col,
    )

    cd = spark.createDataFrame(company_universe())
    hot = [(f"Sonexa Venture {i} LLC",) for i in range(1000)]  # prefix 'so'
    surfaces = spark.createDataFrame(hot + [("Veltrix Systems",)], "surface string")
    salt_buckets = 4

    # (b) spread evidence: the hot block's surfaces occupy ALL salt
    # sub-blocks, so its work is divided across salt_buckets cogroup tasks
    surf_salted = (
        surfaces.select("surface")
        .distinct()
        .withColumn("prefix2", F.substring(normalized_name_col("surface"), 1, 2))
        .withColumn(
            "salt",
            F.pmod(F.xxhash64("surface"), F.lit(salt_buckets)).cast("int"),
        )
    )
    hot_counts = (
        surf_salted.filter(F.col("prefix2") == "so")
        .groupBy("salt")
        .count()
        .collect()
    )
    assert len(hot_counts) == salt_buckets
    sizes = sorted(r["count"] for r in hot_counts)
    # balanced within 2x: no sub-block re-concentrates the block
    assert sizes[-1] <= 2 * sizes[0]

    # (a) identical output to the broadcast tier on the same universe
    from finance_sc_relations_spark.operators.linking import link_surfaces

    def norm(df):
        return {
            r["surface"]: (
                r["entity_id"],
                tuple(sorted((c["name"], round(c["score"], 5))
                             for c in r["candidates"])),
            )
            for r in df.collect()
        }

    dist = norm(link_surfaces_distributed(surfaces, cd, salt_buckets=salt_buckets))
    bcast = norm(link_surfaces(surfaces, cd.toPandas()))
    assert dist == bcast and len(dist) == 1001
