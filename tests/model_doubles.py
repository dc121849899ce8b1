"""Test doubles for the BatchModel seam (operators/models.py).

Broadcast values are pickled by reference, so the Python workers must import
this module by its name: the `spark` fixture ships it with addPyFile.
"""

from typing import Sequence

import numpy as np

# Objects pin() has seen in this process (see pin).
_PINNED: list = []


def pin(*objs) -> list:
    """id() of each object, keeping the objects alive for the life of this
    Python worker so that no later object can reuse one of those ids."""
    _PINNED.extend(objs)
    return [id(o) for o in objs]


class MarkerProbeModel:
    """Contract probe for the token-ID scoring seam: a model exposing
    score_ids_batch(ids, e1_e2_starts, attention_mask) receives the ENCODED
    form the transformer RE head consumes — a (B, L) id matrix padded to
    batch max plus its 0/1 attention mask (the Pad_Sequence collate,
    preprocessing_funcs.py:233-285) and the marker positions re_trf.py:51-65
    pools at. The probe VALIDATES the padding contract on every call
    (rectangular shapes, mask is 1s-then-0s per row, every masked-off cell
    holds the single pad id, markers sit inside the unmasked span) and
    echoes sup=e1_pos, cus=e2_pos, oth=true_length so tests can assert
    exactly what reached the model; score_batch raises, proving the string
    path is bypassed when a tokenizer is wired."""

    num_labels = 3

    def score_ids_batch(self, ids, starts, attention_mask=None) -> np.ndarray:
        ids = np.asarray(ids)
        assert attention_mask is not None, "padded contract requires a mask"
        mask = np.asarray(attention_mask)
        assert ids.shape == mask.shape and ids.ndim == 2, (ids.shape, mask.shape)
        assert set(np.unique(mask)) <= {0, 1}
        lengths = mask.sum(axis=1)
        out = np.zeros((ids.shape[0], 3), dtype=np.float32)
        for i, st in enumerate(starts):
            n = int(lengths[i])
            # mask must be a contiguous prefix of 1s (right padding only)
            assert mask[i, :n].all() and not mask[i, n:].any(), mask[i]
            pad_cells = ids[i, n:]
            assert pad_cells.size == 0 or (pad_cells == pad_cells[0]).all()
            assert 0 <= st[0] < n and 0 <= st[1] < n, (st, n)
            out[i] = (st[0], st[1], n)
        return out

    def score_batch(self, texts: Sequence[str]) -> np.ndarray:
        raise AssertionError(
            "MarkerProbeModel.score_batch called — tokenizer path not wired"
        )


class SCProbeModel:
    """Contract probe for the SC token-ID seam: a binary classifier
    exposing score_ids_batch(ids, attention_mask) receives the encoded
    form sec-bert consumes — a (B, max_length) FIXED-WIDTH id matrix
    (batch_encode_plus padding='max_length',
    src/sc_classifier/processing/tokenizers.py:14-44) plus its 0/1 mask.
    Validates the contract on every call and echoes
    (neg=width, pos=true_length) so tests can assert exactly what reached
    the model; score_batch raises, proving the string path is bypassed
    when a tokenizer is wired."""

    num_labels = 2

    def score_ids_batch(self, ids, attention_mask) -> np.ndarray:
        ids = np.asarray(ids)
        mask = np.asarray(attention_mask)
        assert ids.shape == mask.shape and ids.ndim == 2, (ids.shape, mask.shape)
        assert set(np.unique(mask)) <= {0, 1}
        out = np.zeros((ids.shape[0], 2), dtype=np.float32)
        for i in range(ids.shape[0]):
            n = int(mask[i].sum())
            assert mask[i, :n].all() and not mask[i, n:].any(), mask[i]
            pad_cells = ids[i, n:]
            assert pad_cells.size == 0 or (pad_cells == pad_cells[0]).all()
            out[i] = (ids.shape[1], n)
        return out

    def score_batch(self, texts: Sequence[str]) -> np.ndarray:
        raise AssertionError(
            "SCProbeModel.score_batch called — tokenizer path not wired"
        )


class ConstantModel:
    """Contract/debug scorer: one fixed score row for every input, so the
    broadcast-model seam can be exercised end to end with a model that is
    trivially distinguishable from the default lexical scorers."""

    def __init__(self, scores: Sequence[float]):
        self.num_labels = len(scores)
        self._row = np.asarray(scores, dtype=np.float32)

    def score_batch(self, texts: Sequence[str]) -> np.ndarray:
        return np.tile(self._row, (len(texts), 1))
