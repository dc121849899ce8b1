"""Stage 6: entity linking + corpus-level canonicalization.

Reference realization:
- L5 prefix blocking: punctuation-stripped, 'the'-stripped, lowercased name;
  first-2-char prefix key queried against the company GSI
  (src/relation_extraction/reporter.py:143-173).
- L6 match_companies: distinct mentions -> prefix lookup -> SimCSE cosine
  (cand_thresh 0.8, match_thresh 0.95-0.98, top_k) -> matches/candidates per
  mention (reporter.py:76-237).
- L7 doc-level clustering at threshold 0.96 (reporter.py:283-311) — only
  within a document. The north rule requires corpus-level canonical ids, so
  this engine adds global connected components over the surface-form graph.

Spark realization:
- Distinct surface forms FIRST (dedup-before-expensive-op; the reference does
  the same for encoding, spacy_loader.py:262-274). At 10^12 docs the distinct
  mention set is ~10^7 — tiny next to the corpus.
- One scoring loop (_score_surfaces) makes the linking decision for both
  tiers: exact hit, sort-prefix mask, block cosine, candidates, near-tie
  rule. It reads one index type, _DictIndex (exact map, prefix2 blocks —
  the blocking trick, kept verbatim from the reference — their embeddings
  and sort-normalized forms). The tiers differ only in where the index
  comes from:
  - broadcast tier (link_surfaces): the whole dictionary rides a
    SparkContext broadcast, its index built on first use of the value,
    which PySpark keeps once per Python worker; one mapInPandas over the
    distinct surfaces scores each Arrow batch;
  - distributed tier (link_surfaces_distributed): the dictionary stays in
    Spark, cogrouped with the surfaces on (prefix2, salt); each cogroup
    wraps its block's rows in a _DictIndex and scores its surfaces.
- Canonicalization of unmatched surfaces: connected components over the
  alias edges (operators/cc.py: union-find per task, min-label propagation
  only over the links between tasks). The kernel works on DISTINCT
  surfaces, not mention rows, so hot surfaces (mega-company skew) add no
  rows to it.
"""

from __future__ import annotations

import re
import string
from functools import cached_property
from typing import Iterator, List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

from ..functions.similarity import HashEmbedder

_PUNCT_RE = f"[{re.escape(string.punctuation)}]"

LINKED_SCHEMA = StructType(
    [
        StructField("surface", StringType(), False),
        StructField("entity_id", StringType(), True),
        StructField("matched_name", StringType(), True),
        StructField("link_score", FloatType(), True),
        # L6: top-k sub-match-threshold candidates per mention — the
        # reference's org_links[name]['candidates'] / 'candidates_names'
        # (src/relation_extraction/reporter.py:203-237), consumed downstream
        # as extractedNameCandidateIds (reporter.py:43-52).
        StructField(
            "candidates",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType(), False),
                        StructField("entity_id", StringType(), False),
                        StructField("score", FloatType(), False),
                    ]
                )
            ),
            True,
        ),
    ]
)


def normalized_name_col(col) -> F.Column:
    """Spark expression of the reporter's name normalization
    (reporter.py:148-156): strip punctuation, lowercase, drop 'the',
    drop spaces."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _PUNCT_RE, "")
    c = F.lower(c)
    c = F.regexp_replace(c, "the", "")
    return F.regexp_replace(c, " ", "")


def normalize_name(name: str) -> str:
    s = re.sub(_PUNCT_RE, "", name.strip()).lower()
    return s.replace("the", "").replace(" ", "")


def sort_normalize(name: str) -> str:
    """The GSI sort-key normalization (reporter.py:158-160): punctuation
    stripped, lowercased, SPACES KEPT (unlike the prefix key)."""
    return re.sub(_PUNCT_RE, "", name.strip()).lower()


def sort_prefixes(name: str, sort_len: int = 5) -> List[str]:
    """L5 second-level blocking keys (reporter.py:158-165): the 5-char sort
    prefix of the sort-normalized surface; a leading-'the' name queries BOTH
    the 'the'-inclusive 4+5-char prefix and the de-'the'd 5-char prefix —
    a dictionary form qualifies as a fuzzy candidate iff its sort-normalized
    string begins with one of these (the DynamoDB begins_with condition
    within the prefix2 partition)."""
    sort = sort_normalize(name)
    out = []
    if sort.split(" ")[0] == "the":
        out.append(sort[: 4 + sort_len].strip())
        sort = sort[4:].strip()
    out.append(sort[:sort_len].strip())
    return out


def _sort_mask(form_sorts: np.ndarray, surface: str) -> np.ndarray:
    """Boolean eligibility of each dictionary form for `surface` under the
    sort-prefix condition. form_sorts: np.str_ array of sort-normalized
    forms (one per block item)."""
    mask = np.zeros(len(form_sorts), dtype=bool)
    for q in sort_prefixes(surface):
        mask |= np.char.startswith(form_sorts, q)
    return mask


def _cands_from_sims(sims, items, cand_thresh, match_thresh, top_k):
    """top_k (name, entity_id, score) with cand_thresh <= score <
    match_thresh — the reference's matches/candidates split
    (reporter.py:224-227). Match-level items are matches, never
    candidates."""
    cands = []
    # stable sort: exact score ties (identical alias forms from different
    # entities encode to identical vectors) must break by ascending block
    # index, matching the independent oracle's (-score, index) order —
    # quicksort's unstable tie order could otherwise admit a different
    # tied form when a tie straddles the top_k cutoff
    for idx in np.argsort(-sims, kind="stable"):
        s = float(sims[idx])
        if s < cand_thresh or len(cands) >= top_k:
            break
        if s >= match_thresh:
            continue
        entity_id, canonical, form = items[idx]
        cands.append({"name": form, "entity_id": entity_id, "score": s})
    return cands


# Similarities closer than this to a block's best score tie with it: about
# 16 float32 ulps near 1.0, far below the 1e-5-scale margins that separate
# genuinely different forms.
_TIE_EPS = 1e-6


def _best_form(sims: np.ndarray, match_thresh: float) -> int | None:
    """Index of the linked form, or None when no form reaches match_thresh:
    the lowest index among the forms that reach match_thresh and lie within
    _TIE_EPS of the maximum. _DictIndex orders a block's forms by
    (form, entity_id), so a tie links the min (form, entity_id). Forms equal
    up to a stop suffix ("... Inc" / "... Ltd") tie in real arithmetic, and
    their float32 cosines differ by an ulp that depends on the BLAS kernel
    and the batch shape: a raw argmax would pick the link by accident. A
    form just under match_thresh never wins a tie, so a tie that straddles
    the threshold still links. The reported link_score stays the form's own
    similarity."""
    top = sims.max()
    if top < match_thresh:
        return None
    return int(np.flatnonzero(sims >= max(top - _TIE_EPS, match_thresh))[0])


def link_surfaces(
    surfaces: DataFrame,
    company_pdf: pd.DataFrame,
    cand_thresh: float = 0.8,
    match_thresh: float = 0.95,
    top_k: int = 5,
) -> DataFrame:
    """surfaces(surface) -> LINKED_SCHEMA via exact-alias + prefix-blocked
    fuzzy matching against the broadcast dictionary (L5+L6).

    company_pdf is the collected dictionary (entity_id, canonical_name,
    prefix2, aliases); the pipeline collects it once and reuses it across
    stages. Exact matches (canonical name or known alias) score 1.0;
    otherwise the best prefix-block cosine >= match_thresh wins
    (match_companies thresholds, src/sagemaker/re_inference.py:135-137
    defaults), with fuzzy candidacy further gated by the L5 SECOND-level
    block: the form's sort-normalized string must begin with the surface's
    5-char sort prefix (incl. the leading-'the' variant —
    reporter.py:158-165, sort_len=5 per re_inference.py:131). Every surface
    also carries its top_k sub-match-threshold candidates at cand_thresh —
    the matches/candidates split of match_companies (reporter.py:203-237)."""
    bc = surfaces.sparkSession.sparkContext.broadcast(
        _DictIndex(_dict_rows(company_pdf))
    )
    return surfaces.select("surface").distinct().mapInPandas(
        _surface_linker(bc, cand_thresh, match_thresh, top_k),
        schema=LINKED_SCHEMA,
    )


def _dict_rows(company_pdf: pd.DataFrame) -> list:
    """(entity_id, canonical_name, prefix2, form) per name and alias."""
    rows = []
    for rec in company_pdf.itertuples(index=False):
        rows.append((rec.entity_id, rec.canonical_name, rec.prefix2, rec.canonical_name))
        # toPandas yields a numpy array (or None): never test its truth
        for alias in [] if rec.aliases is None else list(rec.aliases):
            rows.append((rec.entity_id, rec.canonical_name, _prefix2(alias), alias))
    return rows


class _DictIndex:
    """Dictionary rows (entity_id, canonical_name, prefix2, form), sorted
    by (form, entity_id), and their index (exact, by_prefix, prefix_emb,
    prefix_sorts). The order makes an exact tie across entities link the
    min entity_id, and _best_form's near-tie the min (form, entity_id).
    Pickles only the rows: the index, which encodes every form, is built on
    first use and kept on the object, so a broadcast _DictIndex builds once
    per Python worker (PySpark keeps one unpickled value per broadcast
    there) rather than once per task."""

    def __init__(self, rows: list):
        self.rows = sorted(rows, key=lambda r: (r[3], r[0]))

    def __getstate__(self):
        return {"rows": self.rows}

    @cached_property
    def index(self) -> tuple:
        embedder = HashEmbedder()
        exact = {}
        by_prefix: dict = {}
        for entity_id, canonical, prefix, form in self.rows:
            exact.setdefault(form, (entity_id, canonical))
            by_prefix.setdefault(prefix, []).append((entity_id, canonical, form))
        prefix_emb = {
            p: embedder.encode([f for _, _, f in items])
            for p, items in by_prefix.items()
        }
        # sort-normalized forms per block for the L5 second-level
        # (begins_with) condition — numpy str arrays so the per-surface
        # eligibility test is one vectorized startswith per query prefix
        prefix_sorts = {
            p: np.array([sort_normalize(f) for _, _, f in items], dtype=np.str_)
            for p, items in by_prefix.items()
        }
        return exact, by_prefix, prefix_emb, prefix_sorts


def _score_surfaces(index, surfaces, blocks, cand_thresh, match_thresh, top_k):
    """LINKED_SCHEMA rows for `surfaces`, each scored against its prefix
    block (`blocks`, one key per surface) of a _DictIndex.index: the one
    scoring loop of both tiers. An exact form hit links at 1.0; otherwise
    the block's sort-prefix-eligible forms are scored by cosine and
    _best_form picks the link. Candidates come from the same
    similarities either way."""
    exact, by_prefix, prefix_emb, prefix_sorts = index
    # ONE batched encode per call (not per surface) feeds every block
    # matvec below
    vecs = HashEmbedder().encode(surfaces) if surfaces else []
    out = []
    for surface, p, vec in zip(surfaces, blocks, vecs):
        items = by_prefix.get(p)
        cands: list = []
        link = (None, None, None)
        idxs = np.flatnonzero(_sort_mask(prefix_sorts[p], surface)) if items else []
        if len(idxs):
            sims = prefix_emb[p][idxs] @ vec
            cands = _cands_from_sims(
                sims, [items[j] for j in idxs], cand_thresh, match_thresh, top_k
            )
            b = _best_form(sims, match_thresh)
            if b is not None:
                link = (*items[idxs[b]][:2], float(sims[b]))
        hit = exact.get(surface)
        if hit is not None:
            link = (*hit, 1.0)
        out.append((surface, *link, cands))
    return pd.DataFrame(out, columns=LINKED_SCHEMA.fieldNames())


def _surface_linker(bc, cand_thresh, match_thresh, top_k):
    """link_surfaces' mapInPandas function over the broadcast _DictIndex bc:
    the global exact map, and each surface's own prefix block."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = bc.value.index
        for batch in batches:
            surfaces = list(batch["surface"])
            yield _score_surfaces(
                index, surfaces, [_prefix2(s) for s in surfaces],
                cand_thresh, match_thresh, top_k,
            )

    return _map


def _prefix2(name: str, prefix_len: int = 2) -> str:
    return normalize_name(name)[:prefix_len]


def link_surfaces_distributed(
    surfaces: DataFrame,
    company_dict: DataFrame,
    cand_thresh: float = 0.8,
    match_thresh: float = 0.95,
    top_k: int = 5,
    salt_buckets: int = 4,
) -> DataFrame:
    """Large-dictionary linking tier — same output contract as link_surfaces,
    for dictionaries too big to broadcast (SURVEY §1.1: the reference's
    DynamoDB GSI holds the full company universe; a 10^8-row dictionary
    cannot ride a Spark broadcast).

    Mechanism: explode the dictionary to (prefix2, form, entity_id,
    canonical) rows IN SPARK, cogroup with the distinct surfaces on the
    prefix2 blocking key, and score each cogroup with the broadcast tier's
    own loop (_score_surfaces) over a _DictIndex of just that block: every
    surface of the cogroup is scored against the block Spark assigned it,
    so no Python re-derivation of the key can move it elsewhere. The
    dictionary stays distributed and the shuffle key is (prefix2, salt): a
    cogroup is ONE task per key, so a hot prefix block (surname-like
    prefixes hold a disproportionate share of a web corpus's surfaces)
    would otherwise become a straggler. Surfaces are hash-salted into
    salt_buckets sub-blocks and the dictionary rows of the block are
    replicated across them — identical output, bounded task size (dict
    replication is salt_buckets x the BLOCK, not the dictionary)."""
    salts = F.array(*[F.lit(i) for i in range(salt_buckets)])
    forms = company_dict.select(
        "entity_id",
        "canonical_name",
        # concat, NOT array_union: the broadcast tier keeps a duplicate
        # form row when an alias equals the canonical name, and the two
        # tiers are contractually identical — union's dedup could emit a
        # different candidate list/top-k consumption for such entities
        F.explode(
            F.concat(
                F.array(F.col("canonical_name")),
                F.coalesce("aliases", F.array()),
            )
        ).alias("form"),
    ).select(
        "entity_id",
        "canonical_name",
        "form",
        F.substring(normalized_name_col("form"), 1, 2).alias("prefix2"),
        F.explode(salts).alias("salt"),
    )
    surf = (
        surfaces.select("surface")
        .distinct()
        .withColumn("prefix2", F.substring(normalized_name_col("surface"), 1, 2))
        .withColumn("salt", F.pmod(F.xxhash64("surface"), F.lit(salt_buckets)).cast("int"))
    )

    def _score_block(key, surf_pdf, dict_pdf):
        surfaces = list(surf_pdf["surface"])
        if not surfaces:  # a dictionary-only cogroup: encode nothing
            return pd.DataFrame(columns=LINKED_SCHEMA.fieldNames())
        rows = dict_pdf[["entity_id", "canonical_name", "prefix2", "form"]]
        index = _DictIndex(list(rows.itertuples(index=False, name=None))).index
        return _score_surfaces(
            index, surfaces, [key[0]] * len(surfaces),
            cand_thresh, match_thresh, top_k,
        )

    return (
        surf.groupBy("prefix2", "salt")
        .cogroup(forms.groupBy("prefix2", "salt"))
        .applyInPandas(_score_block, schema=LINKED_SCHEMA)
    )


def canonicalize_unmatched(
    linked: DataFrame,
    alias_edges: DataFrame | None = None,
    max_iterations: int = 10,
) -> DataFrame:
    """Assign corpus-level canonical ids to dictionary-unmatched surfaces.

    Connected components (operators/cc.py::cc_min_label) over the
    undirected surface graph of page-level alias pairs (alias_edges:
    target, alias): union-find per task of at most EDGES_PER_TASK edges,
    then min-label propagation with pointer jumping (O(log diameter)
    rounds) only over the links between tasks; a graph that fits one task
    runs no round. A RuntimeWarning is raised if max_iterations rounds do
    not converge. Dictionary-matched surfaces are fixed seeds: each offers
    its LEI to the components it touches but joins none of them.
    The reference only clusters within a document (reporter.py:283-311);
    corpus-level components are the north-rule extension (SURVEY.md §7.4).

    Returns (surface, entity_id) for ALL input surfaces, one row per surface:
    dictionary matches keep their LEI id; an unmatched surface whose component
    contains a dictionary-matched surface inherits that surface's LEI;
    components with no dictionary anchor get
    'SF:<min-normalized-form-in-component>'.
    """
    matched = linked.filter(F.col("entity_id").isNotNull()).select(
        "surface", "entity_id"
    )
    unmatched = linked.filter(F.col("entity_id").isNull()).select("surface")

    # label = struct(pri, val). pri 0 = dictionary LEI, pri 1 = normalized
    # surface form; F.min over the struct orders field-by-field, so a
    # dictionary id always beats any SF label within a component.
    labels = unmatched.select(
        "surface",
        F.struct(
            F.lit(1).alias("pri"),
            normalized_name_col("surface").alias("val"),
        ).alias("label"),
    )
    if alias_edges is not None and unmatched.isEmpty():
        alias_edges = None  # nothing to relabel — skip the kernel
    if alias_edges is not None:
        from .cc import cc_min_label

        # seeds = dictionary-matched surfaces with FIXED labels: they offer
        # their LEI to every component they touch but are never relabeled
        # (a matched endpoint re-entering as a labeled surface would be
        # emitted twice — its LEI row plus a propagated SF: row — and fan
        # out every downstream triple join; cc_min_label returns only the
        # relabeled `labels` frame, so that cannot happen).
        seeds = matched.select(
            "surface",
            F.struct(
                F.lit(0).alias("pri"), F.col("entity_id").alias("val"),
            ).alias("label"),
        )
        labels = cc_min_label(
            alias_edges.select("target", "alias"),
            labels,
            key="surface",
            seeds=seeds,
            max_iterations=max_iterations,
            warn_name="canonicalize_unmatched",
        )
    resolved = labels.select(
        "surface",
        F.when(F.col("label.pri") == 0, F.col("label.val"))
        .otherwise(F.concat(F.lit("SF:"), F.col("label.val")))
        .alias("entity_id"),
    )
    return matched.unionByName(resolved)
