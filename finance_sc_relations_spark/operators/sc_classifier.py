"""Stage 4: supply-chain sentence gate (C1-C4): the scoring kernel the fused
NER pass calls (ner.detect_mentions with_sc=True) and the gate over its
sc_label/sc_score columns.

Reference: binary sec-bert classifier scored in batch
(src/sc_classifier/trainer.py:512-569), gated in production by
`supply_label == 1` (src/sagemaker/re_inference.py:96) and in the notebook by
`sc_label == 1 and sc_score > 0.95` (DemoNotebooks/re_with_glue.ipynb cell 21).

Runs BEFORE pair fan-out: sentences without supply cues never pay the
C(groups,2) x positions expansion — the cheap->expensive ordering the
reference implements manually (SURVEY.md §4 "early selectivity gates").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .models import BatchModel


def sc_scores(model: BatchModel, tok, sents, max_length):
    """C1-C3 scoring kernel of the fused NER+SC pass (ner.detect_mentions
    with_sc=True). With a tokenizer and a model exposing
    score_ids_batch(ids, attention_mask): WordPiece encode truncated to
    max_length, FIXED-width pad to max_length (batch_encode_plus
    padding='max_length', src/sc_classifier/processing/tokenizers.py:14-44).
    Otherwise the string path."""
    if tok is not None and hasattr(model, "score_ids_batch"):
        if max_length is None:
            # the contract is a FIXED (B, max_length) matrix; None would
            # mean no truncation + per-batch variable widths — a 600-token
            # sentence overruns a 512-position embedding table at runtime.
            # Fail loudly at plan time instead.
            raise ValueError(
                "SC token-ID scoring requires max_length (the fixed "
                "batch_encode_plus width); got None"
            )
        from ..functions.wordpiece import pad_batch

        encoded = [tok.encode(s, max_length=max_length) for s in sents]
        ids, mask = pad_batch(encoded, tok.pad_token_id, width=max_length)
        return model.score_ids_batch(ids, mask)
    return model.score_batch(sents)


def sc_gate(classified: DataFrame, threshold: float = 0.95) -> DataFrame:
    """`sc_label == 1 and sc_score > threshold` (re_with_glue.ipynb cell 21;
    src/sagemaker/re_inference.py:96-97)."""
    return classified.filter(
        (F.col("sc_label") == 1) & (F.col("sc_score") > threshold)
    )
