"""entity_annotation (T8) + tagged-sentence surgery semantics.

Expected strings computed by hand from the reference algorithm
(src/utils/preprocess.py:109-220): placeholder substitution longest-first,
[E1]/[E2] insertion with the +5 = len('[E1] ') offsets, overlap exclusion,
num_positions cap.
"""

import pytest

from finance_sc_relations_spark.functions.tagging import (
    entity_annotation,
    extract_tagged_names,
    inverse_relations,
    mutate_sent,
    word_search,
)


def test_simple_pair():
    sent = "Acme Corp supplies Beta Inc."
    out = entity_annotation(sent, "Acme Corp", "Beta Inc", {"Acme Corp": 0, "Beta Inc": 1})
    assert out == ["[E1] Acme Corp [/E1] supplies [E2] Beta Inc [/E2]."]


def test_pair_reversed_entities():
    sent = "Acme Corp supplies Beta Inc."
    out = entity_annotation(sent, "Beta Inc", "Acme Corp", {"Acme Corp": 0, "Beta Inc": 1})
    assert out == ["[E2] Acme Corp [/E2] supplies [E1] Beta Inc [/E1]."]


def test_group_surface_expansion():
    # Both surface forms of group 0 are placeholder-substituted; each
    # (E1 position, E2 position) combination is emitted.
    sent = 'Veltrix Systems Inc ("Veltrix") supplies Beta Inc.'
    groups = {"Veltrix Systems Inc": 0, "Veltrix": 0, "Beta Inc": 1}
    out = entity_annotation(sent, "Veltrix Systems Inc", "Beta Inc", groups)
    assert len(out) == 2  # two E1 surface positions x one E2 position
    assert all("[E2] Beta Inc [/E2]" in s for s in out)
    assert any(s.startswith("[E1] Veltrix Systems Inc [/E1]") for s in out)


def test_multi_position_count():
    sent = "Acme supplies Beta, and Beta depends on Acme for modules."
    out = entity_annotation(sent, "Acme", "Beta", {"Acme": 0, "Beta": 1})
    assert len(out) == 4  # 2 Acme positions x 2 Beta positions


def test_num_positions_cap():
    sent = "Acme supplies Beta, and Beta depends on Acme for modules."
    out = entity_annotation(sent, "Acme", "Beta", {"Acme": 0, "Beta": 1}, num_positions=2)
    assert len(out) == 2


def test_apostrophe_s_handling():
    # "'s"-suffixed names drop the suffix and keep a trailing space after the
    # placeholder (preprocess.py:163-169).
    sent = "Acme supplies Beta products."
    groups = {"Acme's": 0, "Beta": 1}
    out = entity_annotation(sent, "Acme's", "Beta", groups)
    assert out == ["[E1] Acme's [/E1]  supplies [E2] Beta [/E2] products."]


def test_word_search_deterministic_order():
    assert word_search("acme", "Acme likes acme and ACME") == [(0, 4), (11, 15), (20, 24)]
    assert word_search(None, "anything") == []


def test_inverse_relations_roundtrip():
    s = "[E1] A [/E1] supplies [E2] B [/E2]"
    assert inverse_relations(s) == "[E2] A [/E2] supplies [E1] B [/E1]"
    assert inverse_relations(inverse_relations(s)) == s


def test_extract_tagged_names():
    s = "[E1] Acme Corp [/E1] supplies [E2] Beta Inc [/E2] today"
    out = extract_tagged_names(s)
    assert out["entity_1"] == "Acme Corp"
    assert out["entity_2"] == "Beta Inc"
    assert "[E1]" not in out["orig_sent"]


def test_mutate_sent_deterministic_and_masking():
    sent = "Acme Corp supplies Beta Industries."
    groups = {"Acme Corp": 0, "Beta Industries": 1}
    m1 = mutate_sent(sent, groups, seed_key="k1")
    m2 = mutate_sent(sent, groups, seed_key="k1")
    m3 = mutate_sent(sent, groups, seed_key="k2")
    assert m1 == m2  # deterministic per seed_key
    assert "Acme" not in m1 and "Beta" not in m1
    assert m1.startswith("org-")
    # different seeds usually produce different placeholders
    assert m1 != m3 or True


def test_mutate_sent_short_names_kept():
    # len <= 3 names are not replaced (preprocess.py:492)
    sent = "IBM supplies Beta Industries."
    out = mutate_sent(sent, {"IBM": 0, "Beta Industries": 1}, seed_key="x")
    assert out.startswith("IBM ")
    assert "Beta Industries" not in out


def test_entity_annotation_same_group_overlap_skipped():
    # ent1 == ent2 surfaces produce no non-overlapping combination when the
    # name appears only once.
    out = entity_annotation("Acme rose.", "Acme", "Acme", {"Acme": 0})
    assert out == []


def test_get_e1e2_start():
    # the reference's own values (infer.py:439-442, whitespace tokens):
    # first [E1] at 0, first [E2] at 5; a missing marker gives None. They
    # run through the runtime id-level lookup both scoring paths use.
    from finance_sc_relations_spark.functions.wordpiece import (
        build_re_tokenizer,
        get_e1e2_start_ids,
    )

    tok = build_re_tokenizer(["acme supplies beta", "acme buys beta"], vocab_size=100)
    e1_id = tok.convert_tokens_to_ids("[E1]")
    e2_id = tok.convert_tokens_to_ids("[E2]")

    def start(toks):
        return get_e1e2_start_ids(
            [tok.convert_tokens_to_ids(t) for t in toks], e1_id, e2_id
        )

    assert start("[E1] Acme Corp [/E1] supplies [E2] Beta [/E2] .".split()) == (0, 5)
    assert start(["no", "tags", "here"]) is None
    assert start(["[E1]", "only"]) is None
