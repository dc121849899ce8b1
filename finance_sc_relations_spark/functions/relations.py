"""Relation-label algebra: the {supplier, customer, other} label space.

Reference semantics:
- A predicted label is the role of the [E2]-tagged entity (the reference's
  ``assign_relation``, src/relation_extraction/infer.py:446-459);
  ``operators/graph.py::emit_triples`` applies that rule.
- ``resort_relation`` (src/labels_generator/agg_utils.py:105-110) normalizes
  triple direction: (c1, customer, c2) -> (c2, supplier, c1). We adopt the
  normalized predicate name ``supplies_to``: (subj, supplies_to, obj) means
  subj is a supplier of obj.
"""

from __future__ import annotations

from itertools import chain
from typing import Iterable, List, Sequence, Tuple

# Fixed label order for score vectors everywhere in this engine.
LABELS = ["supplier", "customer", "other"]

PRED_SUPPLIES_TO = "supplies_to"


def resort_relation(relation_tuple: Tuple[str, str, str], relations_map: dict | None = None) -> list:
    """Port of resort_relation (src/labels_generator/agg_utils.py:105-110).

    With the default map {'customer': 'supplier'}, (c1, customer, c2) becomes
    [c2, supplier, c1]; other relations pass through unchanged.
    """
    if relations_map is None:
        relations_map = {"customer": "supplier"}
    c1, relation, c2 = relation_tuple
    if not relations_map.get(relation):
        return [c1, relation, c2]
    return [c2, relations_map[relation], c1]


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
