"""End-to-end KG-construction pipeline (the Spark form of the reference's
three entry points, SURVEY.md §3).

pages -> clean+segment -> mentions -> [SC gate] -> fused tag+score (RE)
      -> triples -> link -> edges/vertices

The DAG is declared once, as the ordered KG_STAGES list; each stage is a
pure DataFrame builder over the outputs of earlier stages. Two runners walk
the same list and differ only in how they materialize a stage: run_pipeline
keeps the DAG in memory and persists its branch points;
plans.checkpoint.run_pipeline_checkpointed writes every stage to a stage
table so a killed run resumes from the last completed stage (the Spark form
of block_job_files/add_results, src/glue/glue_etl.py:313-444).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..operators import extract_fused, re_classifier
from ..operators.segment import segment_sentences
from ..operators.ner import detect_mentions, gate_multi_org
from ..operators.sc_classifier import sc_gate
from ..operators.graph import (
    build_alias_edges,
    build_edges,
    build_edges_global,
    build_vertices,
    emit_triples,
    link_triples,
)
from ..operators.linking import (
    canonicalize_unmatched,
    link_surfaces,
    link_surfaces_distributed,
)


@dataclass
class PipelineConfig:
    lang: str = "en"
    use_sc_gate: bool = True
    sc_threshold: float = 0.95
    mutate: bool = True
    reverse: bool = True
    num_positions: float = float("inf")
    score_threshold: float = 0.5
    match_thresh: float = 0.95
    cand_thresh: float = 0.8
    model_partitions: int | None = None
    salt_buckets: int = 32
    # Optional sc.broadcast(models.serialize_model(...)) — swaps the RE
    # scorer for a checkpoint-loaded BatchModel (the GPU transformer
    # drop-in seam), deserialized once per executor.
    re_model_broadcast: object = None
    # Optional LOCAL checkpoint file path (the model.pth.tar flow) loaded
    # once per executor — the broadcast's sibling for node-local / --files
    # shipped checkpoints.
    re_model_path: str | None = None
    # Optional sc.broadcast(WordPieceTokenizer): enables the reference's
    # token-ID preprocessing (encode tagged sentences, index [E1]/[E2] in
    # subword ids, drop rows whose markers were truncated away at
    # re_max_length, counting them into re_dropped_acc — the
    # preprocessing_funcs.py:333-339 "Invalid rows/total" lineage).
    re_tokenizer_broadcast: object = None
    re_max_length: int | None = None
    re_dropped_acc: object = None
    # SC classifier drop-in seam (C1-C3), mirroring the RE seam: broadcast
    # checkpoint + optional tokenizer for the batch_encode_plus token-ID
    # path (fixed-width pad to sc_max_length; shared sc_scores kernel in
    # BOTH the fused NER pass and standalone sc_classify).
    sc_model_broadcast: object = None
    sc_tokenizer_broadcast: object = None
    sc_max_length: int | None = 512
    # None = auto: use the distributed (cogroup-by-prefix) linking tier when
    # the dictionary exceeds max_broadcast_dict_rows; True/False forces.
    # The NER gazetteer always needs a driver-side dict — above the
    # threshold it takes the first max_broadcast_dict_rows entries
    # (production setup: bounded gazetteer for detection, full dictionary
    # for linking).
    distributed_linking: bool | None = None
    max_broadcast_dict_rows: int = 2_000_000


# The keys kg_inputs puts in the stage dict; everything else a runner
# returns is a stage output or a side frame.
KG_INPUTS = ("pages", "company_dict", "company_pdf", "distributed_linking")


def kg_inputs(
    pages: DataFrame, company_dict: DataFrame, cfg: PipelineConfig
) -> dict:
    """The DAG's inputs plus the driver-side dictionary both the NER
    gazetteer and the broadcast linking tier read."""
    # Decide the linking tier BEFORE collecting: a 10^8-row dictionary must
    # never ride toPandas (SURVEY §1.1 — the large-dict case stays
    # distributed; the NER gazetteer is capped instead).
    distributed = cfg.distributed_linking
    dict_cols = company_dict.select(
        "entity_id", "canonical_name", "prefix2", "aliases"
    )
    if distributed is None:
        distributed = dict_cols.count() > cfg.max_broadcast_dict_rows
    company_pdf = (
        dict_cols.limit(cfg.max_broadcast_dict_rows)
        if distributed
        else dict_cols
    ).toPandas()
    return dict(pages=pages, company_dict=company_dict,
                company_pdf=company_pdf, distributed_linking=distributed)


# -- stage builders ---------------------------------------------------------
# build(s, cfg) -> the stage's DataFrame, where s holds the inputs and every
# earlier stage's output. A builder may also record side frames in s (frames
# callers read that are not stages); those exist only when the builder ran.
# Layer functions are called through this module's names (and the fused
# extraction pair through its modules) so they can be patched per call.

def _sentences(s, cfg):
    # The input often arrives as a handful of parquet files (or one); the
    # model stages need >= slot-count partitions to parallelize. On a real
    # cluster this is the repartition-before-model-fleet step (reference
    # analog: instance-fleet sizing, glue_etl.py:548-593). Repartition the
    # PAGES, not the sentences: the shuffle moves the same text bytes
    # without the per-sentence url/id duplication, and the regex-heavy
    # clean+segment stage then runs at full slot width.
    pages = s["pages"]
    n_part = (cfg.model_partitions
              or pages.sparkSession.sparkContext.defaultParallelism * 2)
    return segment_sentences(pages.repartition(n_part), lang=cfg.lang)


def _mentions(s, cfg):
    # Fused NER+SC pass, spans dropped: Arrow serialization of the wide span
    # structs through back-to-back UDF stages dominated CPU (see operator
    # docstring). spans remain available via detect_mentions(include_spans=True).
    return detect_mentions(
        s["sentences"], s["company_pdf"], include_spans=False,
        with_sc=cfg.use_sc_gate,
        sc_model_broadcast=cfg.sc_model_broadcast,
        sc_tokenizer_broadcast=cfg.sc_tokenizer_broadcast,
        sc_max_length=cfg.sc_max_length,
    )


def _classified(s, cfg):
    s["multi_org"] = gate_multi_org(s["mentions"])
    s["gated"] = (
        sc_gate(s["multi_org"], threshold=cfg.sc_threshold)
        if cfg.use_sc_gate else s["multi_org"]
    )
    # Only the columns the tagging UDF consumes cross the Arrow boundary.
    scored = extract_fused.tag_and_score(
        s["gated"].select("url", "sentence_id", "sentence", "org_groups"),
        num_positions=cfg.num_positions,
        mutate=cfg.mutate,
        reverse=cfg.reverse,
        model_broadcast=cfg.re_model_broadcast,
        model_path=cfg.re_model_path,
        tokenizer_broadcast=cfg.re_tokenizer_broadcast,
        max_length=cfg.re_max_length,
        dropped_acc=cfg.re_dropped_acc,
    )
    return re_classifier.aggregate_positions(scored)


def _triples(s, cfg):
    return emit_triples(s["classified"], score_threshold=cfg.score_threshold)


def _linked_surfaces(s, cfg):
    triples = s["triples"]
    surfaces = (
        triples.select(triples.subj_surface.alias("surface"))
        .unionByName(triples.select(triples.obj_surface.alias("surface")))
        .distinct()
    )
    if s["distributed_linking"]:
        return link_surfaces_distributed(
            surfaces, s["company_dict"],
            cand_thresh=cfg.cand_thresh, match_thresh=cfg.match_thresh,
        )
    return link_surfaces(
        surfaces, s["company_pdf"],
        cand_thresh=cfg.cand_thresh, match_thresh=cfg.match_thresh,
    )


def _surface_to_entity(s, cfg):
    s["alias_edges"] = build_alias_edges(s["mentions"])
    return canonicalize_unmatched(
        s["linked_surfaces"], s["alias_edges"].select("target", "alias")
    )


def _linked_triples(s, cfg):
    # Plain equi-joins on both endpoints: AQE reads the persisted map's
    # runtime size and broadcasts it when it is small.
    return link_triples(
        s["triples"], s["surface_to_entity"].select("surface", "entity_id")
    )


def _edges(s, cfg):
    return build_edges(s["linked_triples"])


def _edges_global(s, cfg):
    return build_edges_global(s["linked_triples"], salt_buckets=cfg.salt_buckets)


def _vertices(s, cfg):
    return build_vertices(s["linked_triples"])


# ONE ordered stage list consumed by BOTH runners (the CURATION_GATES
# pattern of plans/curate.py): (name, builder, source, branch point).
# source is the stage (or, for sentences, the input) whose rows are this
# stage's input: the lineage input_rows of the checkpointed runner. A branch
# point is read by more than one later stage or action (mentions feeds the
# pair fan-out and the alias edges; triples feeds surface linking and the
# endpoint joins; linked_surfaces feeds canonicalize_unmatched's isEmpty
# probe and both branches of its union; the surface map feeds both endpoint
# joins; linked_triples feeds the three graph rollups): without
# materializing it, Spark recomputes its whole subtree per consumer — for
# linked_surfaces, the dictionary-matching Python UDF. run_pipeline persists
# branch points (persist, NOT localCheckpoint: persist keeps lineage, so a
# lost executor recomputes its partitions instead of failing the job).
KG_STAGES = [
    ("sentences", _sentences, "pages", False),
    ("mentions", _mentions, "sentences", True),
    ("classified", _classified, "mentions", False),
    ("triples", _triples, "classified", True),
    ("linked_surfaces", _linked_surfaces, "triples", True),
    ("surface_to_entity", _surface_to_entity, "linked_surfaces", True),
    ("linked_triples", _linked_triples, "triples", True),
    ("edges", _edges, "linked_triples", False),
    ("edges_global", _edges_global, "linked_triples", False),
    ("vertices", _vertices, "linked_triples", False),
]


def kg_outputs(s: dict) -> dict[str, DataFrame]:
    """A runner's stage dict without its inputs."""
    return {k: v for k, v in s.items() if k not in KG_INPUTS}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    company_dict: DataFrame,
    config: PipelineConfig | None = None,
) -> dict:
    """Run the KG DAG in memory. Returns every stage's and side frame's
    DataFrame keyed by name, plus "cached": the frames this call persisted.
    Persisted blocks are NOT released when the frames are garbage-collected;
    a long-lived session should unpersist the cached frames once it has
    materialized the outputs it needs."""
    cfg = config or PipelineConfig()
    s = kg_inputs(pages, company_dict, cfg)
    cached = []
    for name, build, _, branch in KG_STAGES:
        df = build(s, cfg)
        if branch:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(df)
        s[name] = df
    return {**kg_outputs(s), "cached": cached}
