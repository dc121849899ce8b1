"""Stage 5: batched relation classification + aggregation.

Reference flow (src/relation_extraction/infer.py:135-223, 338-366):
  R2  re_dataset: mutate orgs -> tokenize -> e1/e2 positions
  R5  batched no_grad forward + softmax
  R6  direction-reverse ensemble: score tag-swapped copy, swap
      supplier/customer score columns, average (infer.py:150-167)
  R7  multi-position aggregation: mean of score vectors per r_id
      (infer.py:338-344)
  R8  argmax -> label (infer.py:346-351)

Spark realization:
- One mapInPandas pass computes BOTH directions per row (fwd + reversed) and
  averages in-batch — this halves the number of model passes over the data
  versus the reference's two sequential estimate_ calls, and keeps the
  reverse ensemble embarrassingly parallel (no shuffle).
- Position-mean (R7) is a single groupBy('r_id') over three float columns —
  map-side partial aggregation, one shuffle, whole-stage codegen. Score
  vectors are fixed length 3, so we unpack to columns instead of shuffling
  arrays.
- Argmax + label map (R8) is a greatest/when expression chain — no Python.
"""

from __future__ import annotations

from typing import Iterator

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

from ..functions.relations import LABELS
from ..functions.tagging import inverse_relations, mutate_sent
from .models import BatchModel, REPatternModel

# One row per scored tag position: both scoring paths emit it and
# aggregate_positions consumes it.
SCORED_POSITIONS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("sentence_id", StringType(), False),
        StructField("r_id", StringType(), False),
        StructField("entity1", StringType(), False),
        StructField("entity2", StringType(), False),
        StructField("scores", ArrayType(FloatType()), False),
    ]
)

SUP, CUS, OTH = 0, 1, 2  # LABELS order


def gate_and_score(model: BatchModel, tok, sents, max_length, reverse, dropped_acc):
    """Shared tokenizer-gate + scoring kernel for BOTH extraction paths
    (fused tag_and_score and unfused score_pairs) — one copy so the
    drop/score contract cannot silently diverge between them.

    When `tok` is set: encode each tagged sentence, index [E1]/[E2] in the
    subword ids, DROP rows whose markers are missing (truncated away at
    max_length), counting them into dropped_acc (advisory — see score_pairs
    docstring for the at-least-once caveat). Models exposing
    score_ids_batch(ids, e1_e2_starts, attention_mask) receive the encoded
    form padded to batch max with the tokenizer's pad id plus a 0/1
    attention mask (the Pad_Sequence collate contract,
    preprocessing_funcs.py:233-285 — what re_trf.py:51-65 pools over);
    otherwise the surviving strings go through score_batch. The
    direction-reverse ensemble (infer.py:150-167) swaps supplier<->customer
    columns of the reversed pass and averages.

    Returns (keep, scores): `keep` indexes the surviving rows of `sents`
    (all rows when tok is None); `scores` is the (len(keep), 3) ensemble
    matrix, or None when nothing survived."""
    encoded = starts = None
    if tok is not None:
        from ..functions.wordpiece import encode_with_markers

        encoded, starts = encode_with_markers(tok, sents, max_length)
        keep = [i for i, st in enumerate(starts) if st is not None]
        n_drop = len(sents) - len(keep)
        if n_drop and dropped_acc is not None:
            dropped_acc.add(n_drop)
        if not keep:
            return [], None
        sents = [sents[i] for i in keep]
        encoded = [encoded[i] for i in keep]
        starts = [starts[i] for i in keep]
    else:
        keep = list(range(len(sents)))
    if tok is not None and hasattr(model, "score_ids_batch"):
        from ..functions.wordpiece import pad_batch

        pad_id = tok.pad_token_id
        ids_mat, attn = pad_batch(encoded, pad_id)
        fwd = model.score_ids_batch(ids_mat, starts, attention_mask=attn)
        rev = None
        if reverse:
            from ..functions.wordpiece import encode_with_markers

            rev_enc, rev_starts = encode_with_markers(
                tok, [inverse_relations(s) for s in sents], max_length
            )
            rev_mat, rev_attn = pad_batch(rev_enc, pad_id)
            rev = model.score_ids_batch(
                rev_mat, rev_starts, attention_mask=rev_attn
            )
    else:
        fwd = model.score_batch(sents)
        rev = (
            model.score_batch([inverse_relations(s) for s in sents])
            if reverse
            else None
        )
    if rev is not None:
        # swap supplier<->customer columns of the reversed pass
        # (infer.py:163-166), then average
        rev_swapped = rev.copy()
        rev_swapped[:, [SUP, CUS]] = rev[:, [CUS, SUP]]
        scores = (fwd + rev_swapped) / 2.0
    else:
        scores = fwd
    return keep, scores


def score_pairs(
    pairs: DataFrame,
    mutate: bool = True,
    reverse: bool = True,
    model_partitions: int | None = None,
    model_broadcast=None,
    tokenizer_broadcast=None,
    max_length: int | None = None,
    dropped_acc=None,
) -> DataFrame:
    """PAIRS rows -> per-position score rows (one row per tagged position).

    mutate: replace org surface forms with deterministic 'org-<numword>'
    placeholders before scoring (re_dataset analog,
    src/relation_extraction/preprocessing_funcs.py:297-359; determinism note
    in functions.tagging.mutate_sent).
    reverse: direction-reverse ensemble per infer.py:150-167.
    model_partitions: repartition before the model stage to balance batch
    sizes across executors (reference analog: instance-fleet sizing,
    src/glue/glue_etl.py:548-593).
    model_broadcast: optional sc.broadcast(model) — swaps the default
    lexical scorer for any BatchModel (the GPU transformer drop-in seam,
    models.py), unpickled once per Python worker.
    tokenizer_broadcast: optional sc.broadcast(WordPieceTokenizer) — enables
    the reference's token-ID preprocessing (re_dataset,
    preprocessing_funcs.py:320-339): each tagged sentence is ENCODED, the
    [E1]/[E2] markers are indexed in the subword-id sequence, and rows
    whose markers were truncated away at `max_length` (or never tagged) are
    DROPPED and counted into `dropped_acc` (a sc.accumulator — the
    "Invalid rows/total" lineage). The accumulator is the only count of
    these drops, and it is at-least-once: Spark accumulators updated inside
    transformations re-add on task retries, speculative execution and
    recomputation, so it can over-count. (The input_rows - output_rows
    delta of a checkpointed stage is not a drop count: the stage also
    aggregates positions into one row per r_id.) A model exposing
    score_ids_batch (the padded-ids transformer contract) receives the
    encoded form; otherwise the surviving tagged strings are scored as
    before.
    """
    df = pairs
    if model_partitions:
        df = df.repartition(model_partitions)

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = (model_broadcast.value if model_broadcast is not None
                 else REPatternModel())
        tok = tokenizer_broadcast.value if tokenizer_broadcast is not None else None
        for batch in batches:
            if len(batch) == 0:
                continue
            sents = batch["sents"].tolist()
            if mutate:
                sents = [
                    mutate_sent(s, dict(g), seed_key=r)
                    for s, g, r in zip(sents, batch["org_groups"], batch["r_id"])
                ]
            keep, scores = gate_and_score(
                model, tok, sents, max_length, reverse, dropped_acc
            )
            if not keep:
                continue
            if len(keep) != len(batch):
                batch = batch.iloc[keep].reset_index(drop=True)
            yield pd.DataFrame(
                {
                    "url": batch["url"],
                    "sentence_id": batch["sentence_id"],
                    "r_id": batch["r_id"],
                    "entity1": batch["entity1"],
                    "entity2": batch["entity2"],
                    "scores": [np.asarray(s, dtype=np.float32) for s in scores],
                }
            )

    return df.mapInPandas(_map, schema=SCORED_POSITIONS_SCHEMA)


def aggregate_positions(scored_positions: DataFrame) -> DataFrame:
    """R7+R8: mean score vector per r_id, then argmax label.

    Mean-of-vectors per r_id (infer.py:338-344) done as three scalar AVGs
    (map-side combine, single shuffle); argmax via greatest/when chain
    (infer.py:346-351).
    """
    df = scored_positions.select(
        "url",
        "sentence_id",
        "r_id",
        "entity1",
        "entity2",
        F.col("scores")[SUP].alias("s_sup"),
        F.col("scores")[CUS].alias("s_cus"),
        F.col("scores")[OTH].alias("s_oth"),
    )
    agg = df.groupBy("r_id").agg(
        F.first("url").alias("url"),
        F.first("sentence_id").alias("sentence_id"),
        F.first("entity1").alias("entity1"),
        F.first("entity2").alias("entity2"),
        F.avg("s_sup").alias("s_sup"),
        F.avg("s_cus").alias("s_cus"),
        F.avg("s_oth").alias("s_oth"),
    )
    best = F.greatest("s_sup", "s_cus", "s_oth")
    relation = (
        F.when(F.col("s_sup") == best, F.lit(LABELS[SUP]))
        .when(F.col("s_cus") == best, F.lit(LABELS[CUS]))
        .otherwise(F.lit(LABELS[OTH]))
    )
    return agg.select(
        "url",
        "sentence_id",
        "r_id",
        "entity1",
        "entity2",
        F.array(
            F.col("s_sup").cast("float"),
            F.col("s_cus").cast("float"),
            F.col("s_oth").cast("float"),
        ).alias("scores"),
        relation.alias("relation"),
        best.cast("float").alias("score"),
    )


def classify_pairs(
    pairs: DataFrame,
    mutate: bool = True,
    reverse: bool = True,
    model_partitions: int | None = None,
    model_broadcast=None,
    tokenizer_broadcast=None,
    max_length: int | None = None,
    dropped_acc=None,
) -> DataFrame:
    """Full R2-R8 chain: score positions, position-mean, argmax."""
    return aggregate_positions(
        score_pairs(pairs, mutate=mutate, reverse=reverse,
                    model_partitions=model_partitions,
                    model_broadcast=model_broadcast,
                    tokenizer_broadcast=tokenizer_broadcast,
                    max_length=max_length,
                    dropped_acc=dropped_acc)
    )
