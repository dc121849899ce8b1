"""Relation-label algebra: the {supplier, customer, other} label space.

Reference semantics:
- A predicted label is the role of the [E2]-tagged entity (the reference's
  ``assign_relation``, src/relation_extraction/infer.py:446-459);
  ``operators/graph.py::emit_triples`` applies that rule.
- The reference's ``resort_relation`` (src/labels_generator/agg_utils.py:
  105-110) normalizes triple direction: (c1, customer, c2) -> (c2, supplier,
  c1). ``emit_triples`` applies the same rule under the normalized predicate
  name ``supplies_to``: (subj, supplies_to, obj) means subj is a supplier
  of obj.
"""

from __future__ import annotations

from itertools import chain
from typing import Iterable, List, Sequence

# Fixed label order for score vectors everywhere in this engine.
LABELS = ["supplier", "customer", "other"]

PRED_SUPPLIES_TO = "supplies_to"


def return_possible_pairs(ids_set: Sequence) -> List[tuple]:
    """Port of return_possible_pairs (src/labels_generator/agg_utils.py:29-34):
    all ordered-by-index unordered pairs of a sequence."""
    ids_set = list(ids_set)
    n = len(ids_set)
    return list(
        zip(
            list(chain(*[[ids_set[x]] * (n - 1 - x) for x in range(n)])),
            list(chain(*[[ids_set[i] for i in range(x + 1, n)] for x in range(n)])),
        )
    )


def check_relation_tuples(relations: List[Iterable]) -> bool:
    """Port of check_relation_tuples (src/labels_generator/agg_utils.py:21-27)."""
    try:
        return all(
            hasattr(relation, "__iter__") and len(list(relation)) == 3
            for relation in relations
        )
    except TypeError:
        return False
