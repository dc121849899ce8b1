"""Token-ID-level T9: WordPiece encode, [E1]/[E2] marker indexing in
subword ids, and the truncation-drop lineage count — wired through both the
fused and unfused scoring paths (reference semantics:
src/relation_extraction/preprocessing_funcs.py:287-295, 320-339)."""

import pytest

from finance_sc_relations_spark.functions.wordpiece import (
    RE_SPECIAL_TOKENS,
    WordPieceTokenizer,
    build_re_tokenizer,
    encode_with_markers,
    get_e1e2_start_ids,
)

CORPUS = [
    "acme corporation supplies widgets to zenith holdings",
    "zenith holdings purchases components from acme corporation",
    "the quarterly report was filed by acme corporation",
]


def test_wordpiece_vocab_and_encode():
    tok = build_re_tokenizer(CORPUS, vocab_size=200, min_freq=2)
    # specials present with HF-ish layout: PAD=0, added RE tokens at the END
    assert tok.pad_token_id == 0
    base_max = max(
        v for k, v in tok.vocab.items() if k not in RE_SPECIAL_TOKENS
    )
    for sp in RE_SPECIAL_TOKENS:
        assert tok.vocab[sp] > base_max
    e1_id = tok.convert_tokens_to_ids("[E1]")
    e2_id = tok.convert_tokens_to_ids("[E2]")
    assert e1_id != e2_id != tok.vocab[tok.UNK]  # the reference's assert

    # frequent word -> single piece; unseen-but-in-alphabet word -> ## pieces
    assert tok.tokenize("acme") == ["acme"]
    pieces = tok.tokenize("acmes")  # not in corpus vocab
    assert len(pieces) > 1 and pieces[1].startswith("##")
    # out-of-alphabet char (its own basic token) -> UNK piece
    assert tok.tokenize("café")[-1] == tok.UNK

    ids = tok.encode("acme supplies zenith")
    assert ids[0] == tok.vocab[tok.CLS] and ids[-1] == tok.vocab[tok.SEP]
    # truncation keeps [CLS] and the final [SEP]
    short = tok.encode("acme corporation supplies widgets", max_length=4)
    assert len(short) == 4
    assert short[0] == tok.vocab[tok.CLS] and short[-1] == tok.vocab[tok.SEP]


def test_marker_positions_in_subword_ids():
    tok = build_re_tokenizer(CORPUS, vocab_size=200, min_freq=2)
    e1_id = tok.convert_tokens_to_ids("[E1]")
    e2_id = tok.convert_tokens_to_ids("[E2]")
    # 'unseenword' splits into many ## pieces, so the id-level position of
    # [E2] is strictly greater than its whitespace-token position
    sent = "[E1] acme [/E1] unseenword supplies [E2] zenith [/E2]"
    ids = tok.encode(sent)
    start = get_e1e2_start_ids(ids, e1_id, e2_id)
    assert start is not None
    assert ids[start[0]] == e1_id and ids[start[1]] == e2_id
    ws_e2_pos = sent.split().index("[E2]")
    assert start[1] > ws_e2_pos  # subword expansion shifted it right

    # truncation that removes [E2] -> None (the dropped-row case)
    cut = tok.encode(sent, max_length=start[1])
    assert get_e1e2_start_ids(cut, e1_id, e2_id) is None

    # batch form flags exactly the truncated row
    enc, starts = encode_with_markers(tok, [sent, sent], None)
    assert starts[0] == starts[1] == start
    enc2, starts2 = encode_with_markers(tok, [sent], start[1])
    assert starts2 == [None]


FILLER = " ".join(["filler"] * 60)
SHORT_TAGGED = "[E1] acme [/E1] supplies widgets to [E2] zenith [/E2]"
LONG_TAGGED = FILLER + " [E1] acme [/E1] supplies [E2] zenith [/E2]"


@pytest.fixture()
def re_tok_bc(spark):
    tok = build_re_tokenizer(CORPUS + [FILLER], vocab_size=300, min_freq=1)
    return spark.sparkContext.broadcast(tok)


def test_score_pairs_truncation_drop_unfused(spark, re_tok_bc):
    from finance_sc_relations_spark.operators.re_classifier import score_pairs

    pairs = spark.createDataFrame(
        [
            ("u1", "s1", "s1_0", SHORT_TAGGED, "acme", "zenith", {}),
            ("u1", "s2", "s2_0", LONG_TAGGED, "acme", "zenith", {}),
        ],
        "url string, sentence_id string, r_id string, sents string,"
        " entity1 string, entity2 string, org_groups map<string,int>",
    )
    acc = spark.sparkContext.accumulator(0)
    out = score_pairs(
        pairs,
        mutate=False,
        tokenizer_broadcast=re_tok_bc,
        max_length=16,
        dropped_acc=acc,
    ).collect()
    assert [r["r_id"] for r in out] == ["s1_0"]
    assert acc.value == 1  # the long row's markers truncated away at 16


def test_tag_and_score_truncation_drop_fused(spark, re_tok_bc):
    from finance_sc_relations_spark.operators.extract_fused import tag_and_score

    orgs = {"acme": 0, "zenith": 1}
    mentions = spark.createDataFrame(
        [
            ("u1", "s1", "acme supplies widgets to zenith", orgs),
            ("u1", "s2", FILLER + " acme supplies zenith", orgs),
        ],
        "url string, sentence_id string, sentence string,"
        " org_groups map<string,int>",
    )
    acc = spark.sparkContext.accumulator(0)
    out = tag_and_score(
        mentions,
        mutate=False,
        tokenizer_broadcast=re_tok_bc,
        max_length=16,
        dropped_acc=acc,
    ).collect()
    sids = {r["sentence_id"] for r in out}
    assert sids == {"s1"}  # every s2 position row dropped
    assert acc.value >= 1

    # with a generous max_length nothing is dropped on either sentence
    acc2 = spark.sparkContext.accumulator(0)
    out2 = tag_and_score(
        mentions,
        mutate=False,
        tokenizer_broadcast=re_tok_bc,
        max_length=256,
        dropped_acc=acc2,
    ).collect()
    assert {r["sentence_id"] for r in out2} == {"s1", "s2"}
    assert acc2.value == 0


def test_fused_unfused_tokenizer_paths_agree(
    spark, re_tok_bc, fixture_corpus, fused_and_unfused
):
    """The tokenizer gate drops the same rows and yields the same scores
    through both extraction paths (run_pipeline's fused pass and the
    unfused pairs -> classify_pairs oracle)."""
    from finance_sc_relations_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    pages_pdf, _, companies_pdf = fixture_corpus
    pages = spark.createDataFrame(pages_pdf.head(40))
    cd = spark.createDataFrame(companies_pdf)
    cfg = PipelineConfig(re_tokenizer_broadcast=re_tok_bc, re_max_length=512)
    fused, unfused = fused_and_unfused(run_pipeline(spark, pages, cd, cfg), cfg)
    assert fused == unfused and len(fused) > 0


def test_score_ids_batch_seam(spark, re_tok_bc):
    """A model exposing score_ids_batch receives (ids, e1_e2_starts) — the
    transformer input contract — through the broadcast-model seam."""
    from model_doubles import MarkerProbeModel

    from finance_sc_relations_spark.operators.re_classifier import score_pairs

    bc = spark.sparkContext.broadcast(MarkerProbeModel())
    pairs = spark.createDataFrame(
        [("u1", "s1", "s1_0", SHORT_TAGGED, "acme", "zenith", {})],
        "url string, sentence_id string, r_id string, sents string,"
        " entity1 string, entity2 string, org_groups map<string,int>",
    )
    row = score_pairs(
        pairs,
        mutate=False,
        reverse=False,
        model_broadcast=bc,
        tokenizer_broadcast=re_tok_bc,
        max_length=64,
    ).collect()[0]
    tok = re_tok_bc.value
    e1_id = tok.convert_tokens_to_ids("[E1]")
    e2_id = tok.convert_tokens_to_ids("[E2]")
    ids = tok.encode(SHORT_TAGGED, max_length=64)
    want = get_e1e2_start_ids(ids, e1_id, e2_id)
    got = [int(v) for v in row["scores"]]
    assert got == [want[0], want[1], len(ids)]


def test_vocab_file_drop_in():
    """The HF drop-in claim, exercised through the production path: load a
    checked-in BERT-format vocab.txt (one token per line, id = line
    number), add the RE specials, and run encode_with_markers end to end —
    exact ids, marker positions, and truncation-drop behavior."""
    from pathlib import Path

    path = Path(__file__).parent / "fixtures" / "vocab_mini.txt"
    tok = WordPieceTokenizer.from_vocab_file(path)
    tok.add_tokens(RE_SPECIAL_TOKENS)

    # file layout: ids are line numbers; RE specials appended past the end
    assert tok.pad_token_id == 0
    assert tok.vocab["[UNK]"] == 2 and tok.vocab["[CLS]"] == 3
    assert tok.vocab["acme"] == 15 and tok.vocab["##ith"] == 18
    assert tok.vocab["[E1]"] == 22 and tok.vocab["[/E2]"] == 25

    sent = "[E1] acme [/E1] supplies [E2] zenith [/E2]."
    encoded, starts = encode_with_markers(tok, [sent], None)
    # zenith = zen + ##ith via greedy longest-match; '.' is its own piece
    assert encoded[0] == [3, 22, 15, 23, 16, 24, 17, 18, 25, 14, 4]
    assert starts[0] == (1, 5)

    # keep-[SEP] truncation: at 7 the [E2] marker survives, at 6 it is
    # cut -> the row is flagged invalid (None), the reference's drop case
    enc7, st7 = encode_with_markers(tok, [sent], 7)
    assert enc7[0] == [3, 22, 15, 23, 16, 24, 4] and st7[0] == (1, 5)
    enc6, st6 = encode_with_markers(tok, [sent], 6)
    assert st6[0] is None


def test_pad_batch_contract():
    """Pad_Sequence semantics (preprocessing_funcs.py:233-285): ragged id
    lists -> (B, L) int64 matrix padded to BATCH max with pad_id + 0/1
    attention mask, right-padding only."""
    import numpy as np

    from finance_sc_relations_spark.functions.wordpiece import pad_batch

    ids, mask = pad_batch([[3, 9, 4], [3, 7, 8, 9, 4]], pad_id=0)
    assert ids.dtype == np.int64 and mask.dtype == np.int64
    assert ids.shape == (2, 5) == mask.shape
    assert ids.tolist() == [[3, 9, 4, 0, 0], [3, 7, 8, 9, 4]]
    assert mask.tolist() == [[1, 1, 1, 0, 0], [1, 1, 1, 1, 1]]
    empty_ids, empty_mask = pad_batch([], pad_id=0)
    assert empty_ids.shape == (0, 0) == empty_mask.shape


def test_score_ids_batch_padded_mask_seam(spark, re_tok_bc):
    """Two different-length sentences through ONE scoring batch: the model
    must see a rectangular padded matrix + mask (MarkerProbeModel asserts
    the contract internally) and per-row TRUE lengths, not the batch max."""
    from model_doubles import MarkerProbeModel

    from finance_sc_relations_spark.operators.re_classifier import score_pairs

    bc = spark.sparkContext.broadcast(MarkerProbeModel())
    long_tagged = SHORT_TAGGED + " again and again and again and again"
    pairs = spark.createDataFrame(
        [
            ("u1", "s1", "s1_0", SHORT_TAGGED, "acme", "zenith", {}),
            ("u1", "s2", "s2_0", long_tagged, "acme", "zenith", {}),
        ],
        "url string, sentence_id string, r_id string, sents string,"
        " entity1 string, entity2 string, org_groups map<string,int>",
    ).coalesce(1)
    rows = {
        r["sentence_id"]: [int(v) for v in r["scores"]]
        for r in score_pairs(
            pairs,
            mutate=False,
            reverse=False,
            model_broadcast=bc,
            tokenizer_broadcast=re_tok_bc,
            max_length=64,
        ).collect()
    }
    tok = re_tok_bc.value
    e1_id = tok.convert_tokens_to_ids("[E1]")
    e2_id = tok.convert_tokens_to_ids("[E2]")
    for sid, sent in (("s1", SHORT_TAGGED), ("s2", long_tagged)):
        ids = tok.encode(sent, max_length=64)
        want = get_e1e2_start_ids(ids, e1_id, e2_id)
        assert rows[sid] == [want[0], want[1], len(ids)], sid
    assert rows["s1"][2] != rows["s2"][2]  # true lengths, not batch max


def test_vocab_file_crlf_line_endings(tmp_path):
    """A CRLF-encoded vocab.txt (Windows-tooling transit) must load
    identically to the LF form."""
    from pathlib import Path

    from finance_sc_relations_spark.functions.wordpiece import (
        WordPieceTokenizer,
    )

    src = Path(__file__).parent / "fixtures" / "vocab_mini.txt"
    crlf = tmp_path / "vocab_crlf.txt"
    crlf.write_bytes(src.read_bytes().replace(b"\n", b"\r\n"))
    a = WordPieceTokenizer.from_vocab_file(src)
    b = WordPieceTokenizer.from_vocab_file(crlf)
    assert a.vocab == b.vocab
