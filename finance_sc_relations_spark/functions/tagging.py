"""Pair tagging and tagged-sentence string surgery.

These are exact-semantics ports of the reference's per-row scalar transforms;
they run row-at-a-time *inside* Arrow-batched pandas UDFs (never as driver
loops or row-at-a-time Python UDFs).

- ``entity_annotation``  — src/utils/preprocess.py:109-220 (T8)
- ``word_search``        — src/utils/preprocess.py:81-96 (T7); the reference
  shuffles the hit list (random.shuffle, preprocess.py:96) — we keep the
  deterministic position order (the shuffle only permutes which positions are
  kept under a num_positions cap and breaks reproducibility).
- ``inverse_relations``  — src/relation_extraction/preprocessing_funcs.py:53-62 (T5)
- ``extract_tagged_names`` — src/relation_extraction/misc.py:28-52 (T6)
- ``mutate_sent``        — src/utils/preprocess.py:471-496 (T4); the reference
  uses an unseeded random.randint per org-id (preprocess.py:490) — we derive
  the shift from a stable blake2 hash of (seed_key, org_id) so the pipeline is
  deterministic and resumable.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict
from typing import Dict, List, Optional, Tuple

_NUM_WORDS = (
    "zero one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen seventeen eighteen nineteen"
).split()
_TENS = "twenty thirty forty fifty sixty seventy eighty ninety".split()


def _num2words(n: int) -> str:
    """num2words for 0..100 (the only range mutate_sent uses,
    src/utils/preprocess.py:490-493), matching the num2words library's
    hyphenated English output ('forty-two')."""
    if n < 20:
        return _NUM_WORDS[n]
    if n < 100:
        tens, rem = divmod(n, 10)
        word = _TENS[tens - 2]
        return f"{word}-{_NUM_WORDS[rem]}" if rem else word
    if n == 100:
        return "one hundred"
    raise ValueError(n)


def word_search(word: Optional[str], text: str) -> List[Tuple[int, int]]:
    """All (start, end) spans of ``word`` in ``text``, case-insensitive.

    Port of src/utils/preprocess.py:81-96 minus the trailing
    ``random.shuffle`` (determinism; see module docstring).
    """
    if word is None:
        return []
    return [
        (m.start(), m.end())
        for m in re.finditer(re.escape(word.lower()), text.lower())
    ]


def inverse_relations(sent: str) -> str:
    """Swap [E1]<->[E2] tags via the 3-step rename
    (src/relation_extraction/preprocessing_funcs.py:53-62)."""
    sent = sent.replace("[E1]", "[E3]")
    sent = sent.replace("[/E1]", "[/E3]")
    sent = sent.replace("[E2]", "[E4]")
    sent = sent.replace("[/E2]", "[/E4]")
    sent = sent.replace("[E4]", "[E1]")
    sent = sent.replace("[/E4]", "[/E1]")
    sent = sent.replace("[E3]", "[E2]")
    sent = sent.replace("[/E3]", "[/E2]")
    return sent


def extract_tagged_names(text: str) -> Dict[str, str]:
    """Pull the tagged entity surface forms back out and strip tags
    (src/relation_extraction/misc.py:28-52)."""
    c1 = text[text.find("[E1]") + len("[E1]") : text.find("[/E1]")]
    c2 = text[text.find("[E2]") + len("[E2]") : text.find("[/E2]")]
    org_text = re.sub(r"\[E1\]|\[/E1\]|\[E2\]|\[/E2\]", "", text)
    org_text = re.sub(r"\s+", " ", org_text)
    return {"orig_sent": org_text, "entity_1": c1.strip(), "entity_2": c2.strip()}


def entity_annotation(
    sent: str,
    ent1: str,
    ent2: str,
    org_groups: Dict[str, int],
    num_positions: float = math.inf,
) -> List[str]:
    """Tag every non-overlapping (ent1, ent2) position pair with [E1]/[E2].

    Exact port of entity_annotation (src/utils/preprocess.py:109-220), minus
    the optional SimCSE matcher argument (fuzzy re-linking of ent names is
    done upstream in this engine) and with deterministic (position-ordered)
    word_search.

    Steps, mirroring the reference line-for-line:
    1. Expand ent1/ent2 to all surface forms in their org_group
       (preprocess.py:143-156), longest-first replacement with <entity_1>/
       <entity_2> placeholders and "'s" handling (preprocess.py:158-169).
    2. For each placeholder position pair, skip overlaps, insert
       "[E1] .. [/E1]" / "[E2] .. [/E2]" (the +5 offsets are len("[E1] ")),
       restore surface forms, cap at num_positions (preprocess.py:171-220).
    """
    id2org: Dict[int, List[str]] = defaultdict(list)
    for k, v in org_groups.items():
        id2org[v].append(k)

    ent1_names = id2org[org_groups[ent1]] if org_groups.get(ent1) is not None else [ent1]
    ent1_names.sort(reverse=True)
    ent2_names = id2org[org_groups[ent2]] if org_groups.get(ent2) is not None else [ent2]
    ent2_names.sort(reverse=True)

    names = {**{k: 1 for k in ent1_names}, **{k: 2 for k in ent2_names}}
    sorted_names = dict(sorted(names.items(), key=lambda x: len(x[0]), reverse=True))
    for k, v in sorted_names.items():
        k = k.replace("’", "'")
        if k.strip().endswith("'s"):
            k = k.replace("'s", "")
            sent = sent.replace(k, "<entity_{}> ".format(v))
        else:
            sent = sent.replace(k, "<entity_{}>".format(v))

    sentence, e1, e2 = sent, "<entity_1>", "<entity_2>"
    res1 = word_search(e1, sentence)

    sentences: List[str] = []
    relations_num = 0
    for j, r1 in enumerate(res1):
        s = sentence[: r1[0]] + "[E1] " + sentence[r1[0] :]
        s = s[0 : (r1[1] + 5)] + " [/E1]" + s[(r1[1] + 5) :]

        res1b = word_search(e1, s)
        r1 = res1b[j]
        res2 = word_search(e2, s)

        for r in res2:
            if set(range(r[0], r[1])) & set(range(r1[0], r1[1])):
                continue
            r2 = (r[0], r[1])

            out = s[: r2[0]] + "[E2] " + s[r2[0] :]
            out = out[0 : (r2[1] + 5)] + " [/E2]" + out[(r2[1] + 5) :]

            out = out.replace("<entity_1>", ent1)
            out = out.replace("<entity_2>", ent2)

            sentences.append(out)
            relations_num += 1
            if relations_num >= num_positions:
                return sentences

    return sentences


def _stable_randint(seed_key: str, org_id: int, lo: int = 0, hi: int = 100) -> int:
    """Deterministic replacement for random.randint(0, 100)
    (src/utils/preprocess.py:490): blake2b of (seed_key, org_id) mod range."""
    h = hashlib.blake2b(f"{seed_key}|{org_id}".encode(), digest_size=8).digest()
    return lo + int.from_bytes(h, "big") % (hi - lo + 1)


def mutate_sent(
    sent: str,
    org_groups: Optional[Dict[str, int]] = None,
    seed_key: str = "",
) -> str:
    """Replace each org surface form (len > 3) with 'org-<numberword>'.

    Port of mutate_sent (src/utils/preprocess.py:471-496) with the unseeded
    ``random.randint`` replaced by a per-(seed_key, group-id) stable hash so
    the same row always mutates identically (resume/determinism requirement).
    """
    if org_groups:
        org_list = sorted(org_groups.items(), key=lambda x: len(x[0]), reverse=True)
        org_dict = {ele[0]: ele[1] for ele in org_list}
        ids = set(org_dict.values())
        ids_shift = {k: _stable_randint(seed_key, k) for k in ids}
        for org, org_id in org_dict.items():
            if len(org) > 3:
                sent = re.sub(
                    re.escape(org), f"org-{_num2words(ids_shift[org_id]).lower()}", sent
                )
    return sent
