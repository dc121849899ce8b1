"""Fused pair-tagging + relation-scoring stage.

`generate_tagged_pairs` followed by `score_pairs` round-trips every tagged
sentence (the widest fan-out in the pipeline: C(groups,2) x positions rows,
each carrying the full tagged string and org_groups map) through JVM<->Arrow
twice. Profiling showed Arrow serialization dominating CPU, so the hot path
fuses both into one mapInPandas: tagged strings never leave the Python
worker — only the (r_id, entity1, entity2, scores) rows do.

Both KG runners take this fused path. The unfused operators remain public
(pairs are a real intermediate for debugging/eval, and the tests use them
as the oracle the fused path must equal)."""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..functions.tagging import entity_annotation, mutate_sent
from .models import REPatternModel
from .pairs import enumerate_pairs
from .re_classifier import SCORED_POSITIONS_SCHEMA, gate_and_score


def tag_and_score(
    gated_mentions: DataFrame,
    num_positions: float = math.inf,
    mutate: bool = True,
    reverse: bool = True,
    model_broadcast=None,
    tokenizer_broadcast=None,
    max_length: int | None = None,
    dropped_acc=None,
) -> DataFrame:
    """gated mentions (url, sentence_id, sentence, org_groups) -> scored
    position rows, one Arrow pass. Feed to
    re_classifier.aggregate_positions for R7/R8.

    model_broadcast: optional sc.broadcast(model) of a BatchModel — the
    transformer drop-in seam (models.py: unpickled once per Python worker);
    None scores with REPatternModel.
    tokenizer_broadcast / max_length / dropped_acc: token-ID preprocessing
    (same contract as re_classifier.score_pairs): encode each tagged
    sentence with the broadcast WordPieceTokenizer, index [E1]/[E2] in the
    subword ids, DROP rows whose markers were truncated away at max_length
    and count them into dropped_acc (preprocessing_funcs.py:333-339);
    models exposing score_ids_batch receive the padded (B, L) id matrix,
    marker positions and 0/1 attention mask (Pad_Sequence collate,
    preprocessing_funcs.py:233-285) via the shared gate_and_score kernel."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = (model_broadcast.value if model_broadcast is not None
                 else REPatternModel())
        tok = tokenizer_broadcast.value if tokenizer_broadcast is not None else None
        for batch in batches:
            meta = []  # (url, sentence_id, r_id, entity1, entity2)
            sents = []
            for rec in batch.itertuples(index=False):
                org_groups = dict(rec.org_groups)
                for i, (ent1, ent2) in enumerate(enumerate_pairs(org_groups)):
                    r_id = f"{rec.sentence_id}_{i}"
                    for tagged in entity_annotation(
                        rec.sentence, ent1, ent2, org_groups, num_positions
                    ):
                        if mutate:
                            tagged = mutate_sent(tagged, org_groups, seed_key=r_id)
                        meta.append((rec.url, rec.sentence_id, r_id, ent1, ent2))
                        sents.append(tagged)
            if not sents:
                continue
            keep, scores = gate_and_score(
                model, tok, sents, max_length, reverse, dropped_acc
            )
            if not keep:
                continue
            if len(keep) != len(meta):
                meta = [meta[i] for i in keep]
            out = pd.DataFrame(
                meta, columns=["url", "sentence_id", "r_id", "entity1", "entity2"]
            )
            out["scores"] = [np.asarray(s, dtype=np.float32) for s in scores]
            yield out

    return gated_mentions.mapInPandas(_map, schema=SCORED_POSITIONS_SCHEMA)
