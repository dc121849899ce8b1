"""Deterministic name-embedding — the engine's SimCSE analog.

The reference encodes company names with a SimCSE transformer
(src/matcher/core.py:57-109) and compares them by cosine similarity with
fixed thresholds (alias filter 0.8, spacy_loader.py:194; grouping 0.95,
spacy_loader.py:53-72; doc clustering 0.96, reporter.py:287; entity match
0.95-0.98, reporter.py:90-92). No transformer runtime exists in this
container, so we substitute a *deterministic* character-n-gram feature-hash
embedding (classic hashing-trick TF vector, L2-normalized): names sharing
character 3-5-grams land close in cosine space, which is precisely the
behavior the thresholds exploit for company surface forms ("Sony" vs "Sony
Inc"). The interface (encode / similarity / search / match_data) mirrors
SimCSE_Matcher so a real transformer can drop in on a GPU cluster.

Everything is numpy-vectorized and stateless — safe to instantiate once per
executor inside a pandas UDF.
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, List, Sequence, Tuple

import numpy as np

_TOKEN_RE = re.compile(r"[a-z0-9]+")

# Generic corporate suffix tokens get heavily down-weighted so that
# "Sony" ~ "Sony Corporation" scores high while "Sony Corp" vs "Ajax Corp"
# stays low — the SimCSE model learns exactly this invariance.
_STOP_SUFFIXES = {
    "inc", "incorporated", "corp", "corporation", "co", "company", "ltd",
    "limited", "llc", "plc", "group", "holdings", "technologies", "systems",
    "the", "sa", "ag", "nv", "se",
}


def _normalize_name(name: str) -> List[str]:
    return _TOKEN_RE.findall(name.lower())


def _ngram_indices(token: str, dim: int, n_lo: int = 3, n_hi: int = 5):
    token = f"^{token}$"
    for n in range(n_lo, n_hi + 1):
        for i in range(max(len(token) - n + 1, 0)):
            gram = token[i : i + n]
            h = int.from_bytes(
                hashlib.blake2b(gram.encode(), digest_size=4).digest(), "big"
            )
            yield h % dim


class HashEmbedder:
    """Feature-hashing character-n-gram encoder with SimCSE_Matcher's API
    surface (encode/similarity/search, src/matcher/core.py:57-186)."""

    def __init__(self, dim: int = 256, suffix_weight: float = 0.15):
        self.dim = dim
        self.suffix_weight = suffix_weight
        self._cache: Dict[str, np.ndarray] = {}

    def encode(self, names: Sequence[str], normalize_to_unit: bool = True) -> np.ndarray:
        out = np.zeros((len(names), self.dim), dtype=np.float32)
        for row, name in enumerate(names):
            cached = self._cache.get(name)
            if cached is not None:
                out[row] = cached
                continue
            vec = np.zeros(self.dim, dtype=np.float32)
            for tok in _normalize_name(name):
                w = self.suffix_weight if tok in _STOP_SUFFIXES else 1.0
                for idx in _ngram_indices(tok, self.dim):
                    vec[idx] += w
            norm = np.linalg.norm(vec)
            if norm > 0:
                vec /= norm
            if len(self._cache) < 200_000:
                self._cache[name] = vec
            out[row] = vec
        if not normalize_to_unit:
            return out
        return out

    def similarity(self, query: str, targets: Sequence[str]) -> np.ndarray:
        """Cosine similarity of one query vs targets (SimCSE_Matcher.similarity
        analog used at spacy_loader.py:194, utils.py:328)."""
        if len(targets) == 0:
            return np.zeros(0, dtype=np.float32)
        q = self.encode([query])[0]
        t = self.encode(list(targets))
        return t @ q

    def search(
        self,
        queries: Sequence[str],
        corpus: Sequence[str],
        threshold: float = 0.8,
        top_k: int = 5,
    ) -> List[List[Tuple[str, float]]]:
        """Brute-force top-k cosine search >= threshold
        (src/matcher/core.py:333-391 analog)."""
        if len(corpus) == 0:
            return [[] for _ in queries]
        c = self.encode(list(corpus))
        q = self.encode(list(queries))
        sims = q @ c.T  # (nq, nc)
        results: List[List[Tuple[str, float]]] = []
        for row in sims:
            idx = np.argsort(-row)[:top_k]
            results.append([(corpus[i], float(row[i])) for i in idx if row[i] >= threshold])
        return results

