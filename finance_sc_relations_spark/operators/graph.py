"""Stage 7: triple emission + graph materialization (edge/vertex tables).

Reference realization: per-document relation aggregation summing scores per
relation type with argmax (agg_relations, src/relation_extraction/
reporter.py:12-73) and DynamoDB relationship/alias items
(reporter.py:339-384). Our output is the Iceberg-style edge/vertex pair of
tables (SURVEY.md §1.1 'Graph output'), direction-normalized to
``supplies_to`` per resort_relation (src/labels_generator/agg_utils.py:105-110).

Skew: the 3 mega companies appear in ~30% of pages, so corpus-level
aggregation on (subj_id, obj_id) is pre-aggregated with a salt derived from
url (two-phase agg) before the final combine — the salted-repartition
requirement of the north rule. Page-level aggregation keys on url and is
naturally balanced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.relations import PRED_SUPPLIES_TO


def emit_triples(classified_pairs: DataFrame, score_threshold: float = 0.5) -> DataFrame:
    """Scored pairs -> direction-normalized surface triples.

    The predicted relation is the role of entity2 (assign_relation,
    infer.py:446-459); normalization per resort_relation:
      supplier -> (entity2, supplies_to, entity1)
      customer -> (entity1, supplies_to, entity2)
      other    -> dropped.
    Confidence gating per the reference's thresholded operating point
    (src/relation_extraction/misc.py:115-136).
    """
    gated = classified_pairs.filter(
        (F.col("relation") != "other") & (F.col("score") > score_threshold)
    )
    subj = F.when(F.col("relation") == "supplier", F.col("entity2")).otherwise(
        F.col("entity1")
    )
    obj = F.when(F.col("relation") == "supplier", F.col("entity1")).otherwise(
        F.col("entity2")
    )
    return gated.select(
        "url",
        "sentence_id",
        "r_id",
        subj.alias("subj_surface"),
        F.lit(PRED_SUPPLIES_TO).alias("pred"),
        obj.alias("obj_surface"),
        F.col("score").cast("double").alias("score"),
    )


def link_triples(triples: DataFrame, surface_to_entity: DataFrame) -> DataFrame:
    """Attach canonical entity ids to both triple endpoints via two left
    equi-joins on the distinct surface->entity map.

    The map is one row per distinct corpus surface — a few hundred rows on a
    small corpus, ~10^7-10^8 strings at web scale. No broadcast hint and no
    size probe: AQE reads the materialized map's runtime size and turns a
    join into a broadcast join below autoBroadcastJoinThreshold, and keeps
    a shuffle join above it. Callers on the hot path should persist the map
    (plans/pipeline.py does) so both joins read it once."""
    s2e = surface_to_entity
    out = (
        triples.join(
            s2e.withColumnRenamed("surface", "subj_surface").withColumnRenamed(
                "entity_id", "subj_id"
            ),
            "subj_surface",
            "left",
        )
        .join(
            s2e.withColumnRenamed("surface", "obj_surface").withColumnRenamed(
                "entity_id", "obj_id"
            ),
            "obj_surface",
            "left",
        )
    )
    return out.select(
        "url", "sentence_id", "r_id",
        "subj_id", "pred", "obj_id",
        "subj_surface", "obj_surface", "score",
    )


def build_edges(linked_triples: DataFrame) -> DataFrame:
    """Page-level edge rollup: one edge per (url, subj_id, obj_id), score
    summed per agg_relations semantics (reporter.py:59-69), evidence
    sentence ids collected in sorted order. Surfaces are the least of the
    pair's surfaces, so no column depends on row arrival order."""
    return (
        linked_triples.groupBy("url", "subj_id", "obj_id")
        .agg(
            F.first("pred").alias("pred"),
            F.min("subj_surface").alias("subj_surface"),
            F.min("obj_surface").alias("obj_surface"),
            F.array_sort(F.collect_list("sentence_id")).alias("sentence_ids"),
            F.sum("score").alias("score"),
        )
        .select(
            "subj_id", "pred", "obj_id", "subj_surface", "obj_surface",
            "url", "sentence_ids", "score",
        )
    )


def build_edges_global(
    linked_triples: DataFrame,
    salt_buckets: int = 32,
    evidence_cap: int = 20,
) -> DataFrame:
    """Corpus-level edge rollup with two-phase salted aggregation.

    Phase 1 groups on (subj_id, obj_id, salt(url)) so a mega-company pair's
    rows split across `salt_buckets` reducers; phase 2 combines the partial
    sums — the hot key touches one reducer only for `salt_buckets` pre-
    aggregated rows. Evidence lists keep the `evidence_cap` least sentence
    ids (logged by column n_evidence, no silent truncation): each phase
    sorts before it slices, so the kept ids do not depend on partition
    order."""
    salted = linked_triples.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("subj_id", "obj_id", "salt").agg(
        F.first("pred").alias("pred"),
        F.sum("score").alias("p_score"),
        F.count("*").alias("p_count"),
        F.slice(F.array_sort(F.collect_list("sentence_id")), 1, evidence_cap)
        .alias("p_sents"),
    )
    final = partial.groupBy("subj_id", "obj_id").agg(
        F.first("pred").alias("pred"),
        F.sum("p_score").alias("score"),
        F.sum("p_count").alias("n_evidence"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("p_sents"))), 1, evidence_cap
        ).alias("sentence_ids"),
    )
    return final.select(
        "subj_id", "pred", "obj_id", "score", "n_evidence", "sentence_ids"
    )


def build_vertices(linked_triples: DataFrame) -> DataFrame:
    """Vertex table: one row per canonical entity with its observed
    surfaces as sorted aliases (alias-item analog, reporter.py:359-384).
    canonical_name is the longest surface, ties broken by the greatest."""
    used = (
        linked_triples.select(F.col("subj_id").alias("entity_id"),
                              F.col("subj_surface").alias("surface"))
        .unionByName(
            linked_triples.select(F.col("obj_id").alias("entity_id"),
                                  F.col("obj_surface").alias("surface"))
        )
    )
    return (
        used.groupBy("entity_id")
        .agg(
            F.max_by(
                "surface", F.struct(F.length("surface"), F.col("surface"))
            ).alias("canonical_name"),
            F.array_sort(F.collect_set("surface")).alias("aliases"),
        )
        .select("entity_id", "canonical_name", "aliases",
                F.lit(None).cast("timestamp").alias("first_seen_ts"))
    )


def k_hop_paths(edges: DataFrame, k: int = 2, max_paths_per_hop: int | None = None) -> DataFrame:
    """k-hop reachability over the (subj_id, obj_id) edge table by iterated
    self-join: (a supplies b) x (b supplies c) -> a reaches c in 2 hops.

    Each hop is one equi-join shuffle on the chain head; at corpus scale
    hot intermediate nodes fan out multiplicatively, so AQE skew-join plus
    an optional per-hop cap bound the blow-up (the GraphFrames motif-query
    analog without the GraphFrames dependency).

    max_paths_per_hop caps paths PER SOURCE via a window row_number — a
    global limit() would funnel the whole frontier through one partition
    and silently bias results toward whichever partitions arrive first.

    The deduped edge base is materialized ONCE (eager localCheckpoint,
    ContextCleaner-managed): it seeds the paths AND serves as the step
    relation of every hop, and callers often pass an expensive join as
    `edges` — without the cut, that upstream lineage re-executes once per
    consumer per hop."""
    from pyspark.sql import Window

    base = (
        edges.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    paths = base.withColumn("hops", F.lit(1))
    step = base.select(
        F.col("src").alias("dst"), F.col("dst").alias("nxt")
    )
    for _ in range(k - 1):
        paths = (
            paths.join(step, "dst")
            .filter(F.col("src") != F.col("nxt"))
            .select("src", F.col("nxt").alias("dst"), (F.col("hops") + 1).alias("hops"))
            .distinct()
        )
        if max_paths_per_hop:
            w = Window.partitionBy("src").orderBy(F.col("dst").asc())
            paths = (
                paths.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_paths_per_hop)
                .drop("_rn")
            )
    return paths


def _orient_edges(edges: DataFrame) -> DataFrame:
    """Degree-oriented undirected projection of the edge table: each
    distinct undirected edge {u, v} becomes ONE directed row (src, dst,
    dkey) pointing from the lower-(degree, id) endpoint toward the
    higher-(degree, id) endpoint; dkey = struct(degree, id) of dst so the
    wedge enumeration can totally order neighbors without re-joining
    degrees. Out-degree under this orientation is bounded by graph
    arboricity (O(sqrt(E)) worst case), not by max degree — a hub of
    degree d receives its d edges instead of emitting them, so a star
    contributes ZERO wedges rather than O(d^2)."""
    from pyspark import StorageLevel

    und = edges.select(
        F.least("subj_id", "obj_id").alias("u"),
        F.greatest("subj_id", "obj_id").alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    # two consumers (degree count + the orientation join) — persist so the
    # upstream edge-derivation subtree runs once, and count both endpoints
    # in ONE pass (explode, not a union whose branches would each re-run
    # the subtree)
    und = und.persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    ed = (
        und.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    )
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("id"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("id"))
    return ed.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(ku < kv, kv).otherwise(ku).alias("dkey"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation over the undirected projection of
    the edge table: (entity_id, n_triangles).

    Degree-oriented enumeration (the standard web-scale form): each
    undirected edge is directed toward its higher-(degree, id) endpoint,
    wedges are enumerated only from each vertex's out-neighbors (ordered
    by that same total order so each candidate pair appears once), and a
    triangle closes when the oriented edge between the two out-neighbors
    exists. Join work is bounded by sum-over-vertices of
    C(out-degree, 2) <= O(E * arboricity) — a mega-hub of degree d
    contributes 0 wedges instead of O(d^2), so supply graphs whose
    mega-company hubs touch ~30% of pages stay near-linear. The oriented
    edge set is materialized once (it feeds both wedge legs and the
    closing join)."""
    oriented = _orient_edges(edges).localCheckpoint(eager=True)
    e1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dkey").alias("kb")
    )
    e2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("dkey").alias("kc")
    )
    # kb < kc: each out-neighbor pair of `a` enumerated exactly once, and
    # (b ≺ c) in the orientation order means the closing edge, if present,
    # is oriented b → c.
    wedges = e1.join(e2, "a").filter(F.col("kb") < F.col("kc"))
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    # no cast: sibling operators (vertex_degrees, pagerank, k_hop) take
    # string entity ids — casting here would nullify them silently
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("n_triangles"))
    )


def vertex_degrees(edges: DataFrame) -> DataFrame:
    """Per-entity in/out degree over the edge table (graph profile stats)."""
    out_d = edges.groupBy(F.col("subj_id").alias("entity_id")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col("obj_id").alias("entity_id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "entity_id", "full_outer")
        .select(
            "entity_id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the (subj_id, obj_id) edge table by join-based power
    iteration — the canonical iterative-algorithm shape on Spark.

    Per iteration: ONE distributed pass (equi-join shuffle on src + groupBy
    on dst) materialized by an eager localCheckpoint, so no job ever
    re-executes un-checkpointed rank lineage. Dangling mass needs no
    driver collect and no left_anti join: the update preserves
    sum(rank) == N, so dangling = N - sum(contribs) (mass through edges is
    exactly the summed rank of non-dangling vertices) — computed as a 1-row
    aggregate OVER THE CHECKPOINTED contribs and cross-joined back
    (broadcast of one row). The r2 shape re-ran the rank lineage for a
    dangling collect every iteration — quadratic work growth inside each
    checkpoint window.

    Returns (entity_id, rank double). Deterministic for a given graph."""
    from pyspark import StorageLevel

    # three consumers of the (possibly expensive, unpersisted) edge
    # subtree: the vertex set, the out-degree aggregate, and the
    # transition build — persist once; vertices come from ONE pass
    # (explode, not a union whose branches would each re-run the subtree)
    edges = edges.select("subj_id", "obj_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    verts = (
        edges.select(
            F.explode(F.array("subj_id", "obj_id")).alias("entity_id")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy(F.col("subj_id").alias("entity_id")).agg(
        F.count("*").alias("out_degree")
    )
    # (src, dst, 1/out_degree(src)) transition weights — static per run
    trans = (
        edges.select(F.col("subj_id").alias("entity_id"), F.col("obj_id").alias("dst"))
        .join(out_deg, "entity_id")
        .select("entity_id", "dst", (F.lit(1.0) / F.col("out_degree")).alias("w"))
        .localCheckpoint(eager=True)
    )
    ranks = verts.withColumn("rank", F.lit(1.0))
    for _ in range(iterations):
        contribs = (
            trans.join(ranks, "entity_id")
            .groupBy(F.col("dst").alias("entity_id"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
            .localCheckpoint(eager=True)
        )
        # sum(rank)==N invariant => dangling mass = N - mass through edges;
        # 1-row frame, reads materialized contribs blocks (no driver collect)
        dangling = contribs.agg(
            (F.lit(float(n)) - F.coalesce(F.sum("contrib"), F.lit(0.0))).alias("dm")
        )
        ranks = (
            verts.join(contribs, "entity_id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "entity_id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dm") / n)
                ).alias("rank"),
            )
        )
    return ranks


def build_alias_edges(mentions: DataFrame) -> DataFrame:
    """Alias edge table: one row per (url, alias, target) discovered by the
    alias matcher (L11, reporter.py:359-384)."""
    return (
        mentions.select("url", F.explode("aliases").alias("pair"))
        .select("url", F.col("pair.target").alias("target"), F.col("pair.alias").alias("alias"))
        .distinct()
    )
