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
from pyspark.sql import functions as F

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
    mutate: bool = True
    reverse: bool = True
    num_positions: float = float("inf")
    score_threshold: float = 0.5
    model_partitions: int | None = None
    salt_buckets: int = 32
    # Optional sc.broadcast(model) — swaps the RE scorer for any BatchModel
    # (the GPU transformer drop-in seam, operators/models.py); each Python
    # worker unpickles it once.
    re_model_broadcast: object = None
    # Optional sc.broadcast(WordPieceTokenizer): enables the reference's
    # token-ID preprocessing (encode tagged sentences, index [E1]/[E2] in
    # subword ids, drop rows whose markers were truncated away at
    # re_max_length, counting them into re_dropped_acc — the
    # preprocessing_funcs.py:333-339 "Invalid rows/total" lineage).
    re_tokenizer_broadcast: object = None
    re_max_length: int | None = None
    re_dropped_acc: object = None
    # SC classifier drop-in seam (C1-C3), mirroring the RE seam: broadcast
    # model + optional tokenizer for the batch_encode_plus token-ID path
    # (fixed-width pad to sc_max_length; sc_classifier.sc_scores in the
    # fused NER pass).
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
    gazetteer and the broadcast linking tier read.

    One Spark job: the dictionary rides toPandas through a
    max_broadcast_dict_rows + 1 limit, so the driver never holds more than
    that many rows (SURVEY §1.1: a 10^8-row dictionary stays distributed).
    On the auto tier, a full limit means the dictionary is larger than the
    cap: linking takes the distributed tier and the NER gazetteer keeps the
    first max_broadcast_dict_rows entries."""
    cap = cfg.max_broadcast_dict_rows
    dict_cols = company_dict.select(
        "entity_id", "canonical_name", "prefix2", "aliases"
    )
    distributed = cfg.distributed_linking
    company_pdf = (
        dict_cols if distributed is False else dict_cols.limit(cap + 1)
    ).toPandas()
    if distributed is None:
        distributed = len(company_pdf) > cap
    if distributed:
        company_pdf = company_pdf.iloc[:cap]
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
    # model stages need one partition per slot to parallelize. On a real
    # cluster this is the repartition-before-model-fleet step (reference
    # analog: instance-fleet sizing, glue_etl.py:548-593). One partition per
    # slot, not more: every Python task pays a fixed launch cost (PySpark's
    # worker setup re-reads each zip on its import path, ~0.1 s per task on
    # a 4-CPU VM with Python 3.11), and round-robin pages already balance
    # the slots, so a second wave of tasks buys no balance. Repartition the
    # PAGES, not the sentences: the shuffle moves the same text bytes
    # without the per-sentence url/id duplication, and the regex-heavy
    # clean+segment stage then runs at full slot width.
    pages = s["pages"]
    n_part = (cfg.model_partitions
              or pages.sparkSession.sparkContext.defaultParallelism)
    return segment_sentences(pages.repartition(n_part), lang=cfg.lang)


def _mentions(s, cfg):
    # Fused NER+SC pass: one Arrow round trip of every sentence batch
    # instead of two back-to-back UDF stages (see operator docstring).
    return detect_mentions(
        s["sentences"], s["company_pdf"], with_sc=cfg.use_sc_gate,
        sc_model_broadcast=cfg.sc_model_broadcast,
        sc_tokenizer_broadcast=cfg.sc_tokenizer_broadcast,
        sc_max_length=cfg.sc_max_length,
    )


def _classified(s, cfg):
    s["multi_org"] = gate_multi_org(s["mentions"])
    s["gated"] = sc_gate(s["multi_org"]) if cfg.use_sc_gate else s["multi_org"]
    # Only the columns the tagging UDF consumes cross the Arrow boundary.
    scored = extract_fused.tag_and_score(
        s["gated"].select("url", "sentence_id", "sentence", "org_groups"),
        num_positions=cfg.num_positions,
        mutate=cfg.mutate,
        reverse=cfg.reverse,
        model_broadcast=cfg.re_model_broadcast,
        tokenizer_broadcast=cfg.re_tokenizer_broadcast,
        max_length=cfg.re_max_length,
        dropped_acc=cfg.re_dropped_acc,
    )
    return re_classifier.aggregate_positions(scored)


def _triples(s, cfg):
    return emit_triples(s["classified"], score_threshold=cfg.score_threshold)


def _linked_surfaces(s, cfg):
    # Both endpoints in one pass over the persisted triples: a union of two
    # selects would launch one cache-fill job per branch. Both linking
    # tiers take the distinct surfaces themselves.
    surfaces = s["triples"].select(
        F.explode(F.array("subj_surface", "obj_surface")).alias("surface")
    )
    if s["distributed_linking"]:
        return link_surfaces_distributed(surfaces, s["company_dict"])
    return link_surfaces(surfaces, s["company_pdf"])


def _surface_to_entity(s, cfg):
    s["alias_edges"] = build_alias_edges(s["mentions"])
    return canonicalize_unmatched(
        s["linked_surfaces"], s["alias_edges"].select("target", "alias")
    )


def _linked_triples(s, cfg):
    # Plain equi-joins on both endpoints: AQE reads the map's runtime size
    # and broadcasts it when it is small.
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
# probe and both branches of its union; linked_triples feeds the three
# graph rollups): without materializing it, Spark recomputes its whole
# subtree per consumer — for linked_surfaces, the dictionary-matching
# Python UDF. run_pipeline persists branch points (persist, NOT
# localCheckpoint: persist keeps lineage, so a lost executor recomputes its
# partitions instead of failing the job).
# surface_to_entity is read by both endpoint joins but is not a branch
# point: its inputs are already materialized (linked_surfaces is persisted,
# the component labels are eagerly checkpointed), so recomputing it per
# join is a scan of the surface map. Persisting it would only add work:
# the first plan that reads a persisted frame fills it with jobs of its
# own, one per plan branch that reads it (two concurrent 1-task jobs for
# the two endpoint joins), before the plan's own job runs.
KG_STAGES = [
    ("sentences", _sentences, "pages", False),
    ("mentions", _mentions, "sentences", True),
    ("classified", _classified, "mentions", False),
    ("triples", _triples, "classified", True),
    ("linked_surfaces", _linked_surfaces, "triples", True),
    ("surface_to_entity", _surface_to_entity, "linked_surfaces", False),
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
