"""Pure-Python WordPiece tokenizer — the token-id substrate for T9.

The reference tokenizes tagged sentences with a HuggingFace transformer
tokenizer extended by the entity-marker specials
(src/relation_extraction/preprocessing_funcs.py:371-385:
`tokenizer.add_tokens(["[E1]", "[/E1]", "[E2]", "[/E2]", "[BLANK]"])`),
indexes the [E1]/[E2] markers in the ENCODED SUBWORD IDS
(preprocessing_funcs.py:287-295), and drops rows where a marker is missing
from the id sequence — e.g. truncated away at max_length — counting them as
invalid (preprocessing_funcs.py:333-339 "Invalid rows/total"). This module
reproduces that substrate without torch/transformers (absent in this
container): a deterministic WordPiece with a corpus-built vocab, greedy
longest-match-first segmentation with "##" continuations, HF-style added
special tokens (atomic, appended ids), [CLS]/[SEP] framing and
keep-the-[SEP] truncation.

A real BERT vocab drops in by constructing WordPieceTokenizer with the
vocab.txt mapping — the encode/marker/truncation semantics are identical;
only the vocabulary differs.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterable, List, Optional, Sequence, Tuple

# Basic pre-tokenization: alnum runs + single non-space symbols (the same
# shape as text_stats.TOKEN_REGEX — BERT's BasicTokenizer splits on
# whitespace and punctuation the same way).
_BASIC = re.compile(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]")

RE_SPECIAL_TOKENS = ["[E1]", "[/E1]", "[E2]", "[/E2]", "[BLANK]"]


class WordPieceTokenizer:
    """Greedy longest-match-first WordPiece over a corpus-built vocab.

    Vocab layout (ids dense from 0): [PAD]=0, [UNK]=1, [CLS]=2, [SEP]=3,
    then corpus pieces, then `add_tokens` appends — matching HF semantics
    where added specials take ids past the base vocab."""

    PAD, UNK, CLS, SEP = "[PAD]", "[UNK]", "[CLS]", "[SEP]"

    def __init__(self, vocab: dict[str, int], added_tokens: Sequence[str] = ()):
        self.vocab = dict(vocab)
        for t in (self.PAD, self.UNK, self.CLS, self.SEP):
            if t not in self.vocab:
                raise ValueError(f"vocab missing required special {t!r}")
        self.added: List[str] = list(added_tokens)
        self._added_split = self._compile_added()

    def _compile_added(self) -> Optional[re.Pattern]:
        # membership set rebuilt alongside the split pattern: tokenize()
        # checks added-token membership per text part, and building
        # set(self.added) inside that loop was measured in every tokenized
        # scoring batch's hot path
        self._added_set = set(self.added)
        if not self.added:
            return None
        return re.compile(
            "(" + "|".join(re.escape(t) for t in
                           sorted(self.added, key=len, reverse=True)) + ")"
        )

    # -- construction -----------------------------------------------------

    @classmethod
    def from_corpus(
        cls,
        texts: Iterable[str],
        vocab_size: int = 4000,
        min_freq: int = 2,
    ) -> "WordPieceTokenizer":
        """Build a deterministic vocab from a corpus: every character seen
        (standalone + '##' continuation form — guarantees any in-alphabet
        word segments instead of collapsing to [UNK]) plus the most
        frequent whole words, ordered (freq desc, token asc) for
        reproducibility."""
        words: Counter = Counter()
        chars: set[str] = set()
        for t in texts:
            for w in _BASIC.findall(t.lower()):
                words[w] += 1
                chars.update(w)
        vocab: dict[str, int] = {}
        for sp in (cls.PAD, cls.UNK, cls.CLS, cls.SEP):
            vocab[sp] = len(vocab)
        for ch in sorted(chars):
            vocab[ch] = len(vocab)
            vocab["##" + ch] = len(vocab)
        budget = max(0, vocab_size - len(vocab))
        frequent = sorted(
            ((w, c) for w, c in words.items() if c >= min_freq and len(w) > 1),
            key=lambda wc: (-wc[1], wc[0]),
        )
        for w, _ in frequent[:budget]:
            if w not in vocab:
                vocab[w] = len(vocab)
        return cls(vocab)

    @classmethod
    def from_vocab_file(
        cls, path, added_tokens: Sequence[str] = ()
    ) -> "WordPieceTokenizer":
        """Load a BERT-format vocab.txt — one token per line, id = line
        number, the exact serialization HuggingFace WordPiece tokenizers
        ship (bert-base-uncased's 30,522-line file drops in unchanged).
        encode/marker/truncation semantics are identical to the
        corpus-built path; only the vocabulary differs. Pair with
        add_tokens(RE_SPECIAL_TOKENS) to reproduce the reference's
        tokenizer setup (preprocessing_funcs.py:371-385)."""
        vocab: dict[str, int] = {}
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f):
                # strip \r too: CRLF vocab files (Windows-tooling transit)
                # must not yield '[PAD]\r' tokens that fail the specials
                # check with a misleading error
                token = line.rstrip("\r\n")
                if token:
                    vocab[token] = i
        return cls(vocab, added_tokens=added_tokens)

    def add_tokens(self, tokens: Sequence[str]) -> None:
        """HF add_tokens: append new ids past the current vocab; added
        tokens are ATOMIC in tokenization (never wordpiece-split)."""
        for t in tokens:
            if t not in self.vocab:
                # max+1, not len(): a file-loaded vocab may have id gaps
                # (blank vocab.txt lines keep their line number); len()
                # could then collide with an existing id. Guard the empty
                # vocab (blank vocab.txt): start ids at 0
                self.vocab[t] = (
                    max(self.vocab.values()) + 1 if self.vocab else 0
                )
            if t not in self.added:
                self.added.append(t)
        self._added_split = self._compile_added()

    # -- lookups ----------------------------------------------------------

    def convert_tokens_to_ids(self, token: str) -> int:
        return self.vocab.get(token, self.vocab[self.UNK])

    @property
    def pad_token_id(self) -> int:
        return self.vocab[self.PAD]

    def __len__(self) -> int:
        return len(self.vocab)

    # -- tokenize / encode ------------------------------------------------

    def _wordpiece(self, word: str) -> List[str]:
        """BERT's greedy longest-prefix segmentation; whole word -> [UNK]
        if any position fails to match (out-of-alphabet character)."""
        pieces: List[str] = []
        start = 0
        n = len(word)
        while start < n:
            end = n
            cur = None
            while start < end:
                sub = word[start:end]
                if start > 0:
                    sub = "##" + sub
                if sub in self.vocab:
                    cur = sub
                    break
                end -= 1
            if cur is None:
                return [self.UNK]
            pieces.append(cur)
            start = end
        return pieces

    def tokenize(self, text: str) -> List[str]:
        parts = (
            self._added_split.split(text) if self._added_split else [text]
        )
        # getattr: instances unpickled from pre-r6 checkpoints lack the
        # cached set; rebuild once per call for those only
        added_set = getattr(self, "_added_set", None)
        if added_set is None:
            added_set = set(self.added)
        out: List[str] = []
        for part in parts:
            if part in self.vocab and part in added_set:
                out.append(part)
                continue
            for w in _BASIC.findall(part.lower()):
                out.extend(self._wordpiece(w))
        return out

    def encode(self, text: str, max_length: int | None = None) -> List[int]:
        """[CLS] + pieces + [SEP]; truncation keeps [CLS] and the final
        [SEP] (HF longest_first over a single sequence: content cut to
        max_length - 2)."""
        ids = [self.convert_tokens_to_ids(t) for t in self.tokenize(text)]
        ids = [self.vocab[self.CLS]] + ids + [self.vocab[self.SEP]]
        if max_length is not None and len(ids) > max_length:
            ids = ids[: max_length - 1] + [self.vocab[self.SEP]]
        return ids


def build_re_tokenizer(
    texts: Iterable[str], vocab_size: int = 4000, min_freq: int = 2
) -> WordPieceTokenizer:
    """Corpus tokenizer + the reference's RE specials
    (preprocessing_funcs.py:372): [E1] [/E1] [E2] [/E2] [BLANK] appended as
    atomic added tokens, ids distinct from every base-vocab id (the
    reference asserts e1_id != e2_id != 1)."""
    tok = WordPieceTokenizer.from_corpus(
        texts, vocab_size=vocab_size, min_freq=min_freq
    )
    tok.add_tokens(RE_SPECIAL_TOKENS)
    return tok


def get_e1e2_start_ids(
    ids: Sequence[int], e1_id: int, e2_id: int
) -> Optional[Tuple[int, int]]:
    """Positions of the first [E1] and first [E2] marker ID in an encoded
    sequence — the id-level T9 (the reference's get_e1e2_start,
    src/relation_extraction/preprocessing_funcs.py:287-295). None when
    either marker is absent (e.g. truncated away at max_length); callers
    drop such rows and count them to lineage
    (preprocessing_funcs.py:333-339)."""
    e1 = e2 = None
    for i, t in enumerate(ids):
        if e1 is None and t == e1_id:
            e1 = i
            if e2 is not None:
                break
        elif e2 is None and t == e2_id:
            e2 = i
            if e1 is not None:
                break
    if e1 is None or e2 is None:
        return None
    return (e1, e2)


def encode_with_markers(
    tok: WordPieceTokenizer,
    sents: Sequence[str],
    max_length: int | None,
) -> Tuple[List[List[int]], List[Optional[Tuple[int, int]]]]:
    """Batch encode + marker indexing: returns (ids_per_sent,
    e1_e2_start_per_sent) with None starts marking invalid rows (marker
    lost to truncation or absent). The shared kernel behind both the fused
    and unfused scoring paths."""
    e1_id = tok.convert_tokens_to_ids("[E1]")
    e2_id = tok.convert_tokens_to_ids("[E2]")
    unk_id = tok.vocab[tok.UNK]
    # The reference asserts e1_id != e2_id != 1 at tokenizer setup
    # (preprocessing_funcs.py:385). A vocab missing the RE specials maps
    # them to [UNK], which would make EVERY unknown subword "match" as a
    # marker and feed garbage pooling positions to the model — fail loudly.
    if e1_id == unk_id or e2_id == unk_id or e1_id == e2_id:
        raise ValueError(
            "tokenizer lacks the [E1]/[E2] special tokens (they resolve to "
            "[UNK]); build it with build_re_tokenizer or add_tokens first"
        )
    encoded = [tok.encode(s, max_length=max_length) for s in sents]
    starts = [get_e1e2_start_ids(ids, e1_id, e2_id) for ids in encoded]
    return encoded, starts


def pad_batch(encoded, pad_id: int, width: int | None = None):
    """Padding + attention mask. Default (width=None): pad to the BATCH max
    — the Pad_Sequence semantics of the RE collate step
    (src/relation_extraction/preprocessing_funcs.py:233-285). With `width`:
    pad every row to that FIXED length — the SC classifier's
    batch_encode_plus(padding='max_length') semantics
    (src/sc_classifier/processing/tokenizers.py:14-44). Ragged id lists
    become one (B, L) int64 matrix padded with `pad_id`, plus a (B, L) 0/1
    attention mask (1 = real token) — exactly the
    (input_ids, attention_mask) pair a transformer forward consumes."""
    import numpy as np

    if not encoded:
        w = width or 0
        return (
            np.zeros((0, w), dtype=np.int64),
            np.zeros((0, w), dtype=np.int64),
        )
    lengths = [len(ids) for ids in encoded]
    if width is None:
        width = max(lengths)
    elif width < max(lengths):
        raise ValueError(
            f"fixed width {width} < longest row {max(lengths)} — encode "
            "with max_length<=width before padding"
        )
    mat = np.full((len(encoded), width), pad_id, dtype=np.int64)
    mask = np.zeros((len(encoded), width), dtype=np.int64)
    for i, ids in enumerate(encoded):
        mat[i, : lengths[i]] = ids
        mask[i, : lengths[i]] = 1
    return mat, mask
