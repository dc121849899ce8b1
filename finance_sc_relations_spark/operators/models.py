"""Deterministic batch scorers — drop-in stand-ins for the transformer heads.

The reference scores with (a) a binary supply-chain sentence classifier over
sec-bert (src/sc_classifier/models/constructor.py:6-23) and (b) an RE head
that pools the [E1]/[E2] hidden states (src/relation_extraction/
re_transfomers/re_trf.py:51-65). Neither torch nor transformers exists in
this container, so each is a deterministic, numpy/regex lexical scorer with
the IDENTICAL interface: a batch of texts in, an (n, num_labels) softmax-like
score matrix out (SURVEY.md §7.7 — "all model stages behind one BatchModel
interface so the transformer drop-in replaces the v0 scorer without touching
the DAG").

Label convention (functions.relations.LABELS): index 0=supplier, 1=customer,
2=other. A predicted label is the role of the [E2]-tagged entity
(assign_relation semantics, src/relation_extraction/infer.py:446-459).

The model seam: PipelineConfig.re_model_broadcast / sc_model_broadcast hold
sc.broadcast(model) of any object with this interface, and the scoring UDFs
read bc.value, falling back to REPatternModel / SCLexicalModel. PySpark
unpickles a broadcast value once per Python worker and keeps it for the
broadcast's lifetime, so a model is loaded once per executor process like
the reference's model_fn (src/sagemaker/re_inference.py:24-35). A model too
large to broadcast is broadcast as a small object that loads its checkpoint
file on first use and keeps it on itself (its __getstate__ pickles only the
path); nothing else in the DAG changes.

A model may also expose score_ids_batch, the token-ID contract that the
tokenizer broadcasts feed (re_classifier.gate_and_score for RE,
sc_classifier.sc_scores for SC).
"""

from __future__ import annotations

import re
from typing import List, Protocol, Sequence

import numpy as np

# ---------------------------------------------------------------------------
# Shared cue lexicon
# ---------------------------------------------------------------------------

# Supply-direction cue patterns over a tag-canonicalized sentence where the
# two tagged entities appear as E1X / E2X. Each pattern names which side is
# the supplier (sup) and which the customer (cus).
_E = r"(E\dX)"
_GAP = r"[^.;!?]*?"
_DIRECTIONAL_PATTERNS: List[re.Pattern] = [
    re.compile(p, re.IGNORECASE)
    for p in [
        rf"(?P<sup>{_E}){_GAP}\b(?:supplies|supplied|supply|sells|sold|delivers|delivered|provides|provided|ships|shipped)\b{_GAP}\bto\s+(?P<cus>{_E})",
        rf"(?P<sup>{_E}){_GAP}\bis\s+a\s+(?:\w+\s+)?supplier\s+(?:of|to|for)\s+(?P<cus>{_E})",
        rf"(?P<sup>{_E}){_GAP}\bsupply\s+agreement\b{_GAP}\bto\s+(?:deliver|supply|ship)\b{_GAP}\bto\s+(?P<cus>{_E})",
        rf"(?P<cus>{_E}){_GAP}\b(?:sources|sourced|purchases|purchased|buys|bought|procures|procured)\b{_GAP}\bfrom\s+(?P<sup>{_E})",
        rf"(?P<cus>{_E}){_GAP}\bis\s+a\s+(?:\w+\s+)?customer\s+of\s+(?P<sup>{_E})",
        rf"(?P<cus>{_E}){_GAP}\b(?:depends|relies|relied|depended)\s+(?:up)?on\s+(?P<sup>{_E})",
        rf"customers?\s+including\s+(?P<cus>{_E}){_GAP}\bof\s+(?P<sup>{_E})\b{_GAP}\brevenue",
    ]
]

# Sentence-level supply cue for the binary SC classifier (no tags needed).
_SC_CUE = re.compile(
    r"\b(?:supplier|supplies|supplied|supply|customer|customers|sources|sourced|"
    r"purchases|purchased|procures|procured|sells|sold|ships|shipped|delivers|"
    r"delivered|depends\s+on|relies\s+on)\b",
    re.IGNORECASE,
)

_TAG_E1 = re.compile(r"\[E1\]\s*(.*?)\s*\[/E1\]", re.DOTALL)
_TAG_E2 = re.compile(r"\[E2\]\s*(.*?)\s*\[/E2\]", re.DOTALL)


def canonicalize_tags(sent: str) -> str:
    """Replace '[E1] x [/E1]' -> 'E1X' and '[E2] y [/E2]' -> 'E2X'."""
    sent = _TAG_E1.sub("E1X", sent)
    sent = _TAG_E2.sub("E2X", sent)
    return sent


class BatchModel(Protocol):
    num_labels: int

    def score_batch(self, texts: Sequence[str]) -> np.ndarray: ...


class REPatternModel:
    """Relation classifier: role of [E2] in {supplier, customer, other}.

    Confidence levels are calibrated so that a 0.5 gate reproduces the
    reference's confidence-gated operating point (misc.py:115-136 gates at a
    chosen threshold; the threshold value is model-specific)."""

    num_labels = 3
    MATCH_CONF = 0.97
    OTHER_CONF = 0.92

    def score_one(self, tagged_sent: str) -> np.ndarray:
        canon = canonicalize_tags(tagged_sent)
        sup_side = None
        for pat in _DIRECTIONAL_PATTERNS:
            m = pat.search(canon)
            if m is None:
                continue
            sup, cus = m.group("sup"), m.group("cus")
            if sup == cus:
                continue
            sup_side = sup
            break
        eps = (1.0 - self.MATCH_CONF) / 2
        if sup_side == "E2X":
            return np.array([self.MATCH_CONF, eps, eps], dtype=np.float32)
        if sup_side == "E1X":
            return np.array([eps, self.MATCH_CONF, eps], dtype=np.float32)
        # Mixed-position variants (one tag in the matching clause) and true
        # no-relation co-mentions: if a directional cue exists but didn't pair
        # both tags, stay neutral-ish so the position-mean can still win.
        if _SC_CUE.search(canon):
            oc = 0.5
            return np.array([(1 - oc) / 2, (1 - oc) / 2, oc], dtype=np.float32)
        eps2 = (1.0 - self.OTHER_CONF) / 2
        return np.array([eps2, eps2, self.OTHER_CONF], dtype=np.float32)

    def score_batch(self, texts: Sequence[str]) -> np.ndarray:
        if len(texts) == 0:
            return np.zeros((0, 3), dtype=np.float32)
        return np.stack([self.score_one(t) for t in texts])


class SCLexicalModel:
    """Binary supply-chain sentence classifier (C1-C3 stand-in):
    label 1 iff a supply cue appears; scores mimic a confident softmax so the
    production gate `sc_label == 1 and sc_score > 0.95`
    (src/sagemaker/re_inference.py:96-97, DemoNotebooks/re_with_glue.ipynb
    cell 21) behaves as in the reference."""

    num_labels = 2
    CONF = 0.98

    def score_batch(self, texts: Sequence[str]) -> np.ndarray:
        out = np.empty((len(texts), 2), dtype=np.float32)
        for i, t in enumerate(texts):
            if _SC_CUE.search(t):
                out[i] = (1 - self.CONF, self.CONF)
            else:
                out[i] = (self.CONF, 1 - self.CONF)
        return out
