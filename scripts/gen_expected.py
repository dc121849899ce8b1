#!/usr/bin/env python
"""Generate expected-output fixture tables for the driver queries that have
no SQL-expressible oracle (minhash/simhash/LSH/IVF candidates, lang-ID, the
fixture KG pipeline, multimodal features).

Independence: everything here is computed WITHOUT Spark DataFrame
orchestration — plain Python dict/loop banding, numpy bucket math, the
generator's own gold triples — so the oracle checks the Spark-side join /
banding / dedup / aggregation plumbing against a second implementation.
Shared building blocks (blake2b hashing, seeded hyperplanes) are imported
from the package on purpose: the signatures are defined to be those
functions; what's under test is the distributed composition.

Writes parquet under data/expected/sf0.01/ (the driver's oracle SF).
Usage: python scripts/gen_expected.py
"""

from __future__ import annotations

import hashlib
import itertools
import re
import struct
import sys
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from finance_sc_relations_spark.operators.dedup import (  # noqa: E402
    _hash64,
    _minhash_params,
    _shingle_hashes,
)
from finance_sc_relations_spark.operators.simsearch import _hyperplanes  # noqa: E402
from finance_sc_relations_spark.operators.text_stats import _LANG_PROFILES  # noqa: E402

SF = "/root/testdata/sf0.01"
OUT = REPO / "data" / "expected" / "sf0.01"


def _docs() -> pd.DataFrame:
    return duckdb.sql(f"SELECT doc_id, text FROM '{SF}/documents.parquet' ORDER BY doc_id").df()


def _embeddings() -> pd.DataFrame:
    # preserve parquet row order — train_ivf_centroids samples in this order
    return duckdb.sql(f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet'").df()


def _round_half_up(x: float, scale: int) -> float:
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(x).quantize(q, ROUND_HALF_UP))


def gen_minhash(num_perm=64, bands=16, shingle_n=3, threshold=0.5) -> pd.DataFrame:
    a, b = _minhash_params(num_perm)
    mersenne = (1 << 61) - 1
    sigs = {}
    for rec in _docs().itertuples(index=False):
        x = _shingle_hashes(rec.text, shingle_n)
        if x.size == 0:
            sigs[rec.doc_id] = np.zeros(num_perm, dtype=np.int64)
        else:
            hv = (np.outer(a, x) + b[:, None]) % mersenne
            sigs[rec.doc_id] = hv.min(axis=1).astype(np.int64)
    rows_per_band = num_perm // bands
    buckets: dict = {}
    for doc_id, sig in sigs.items():
        for band in range(bands):
            key = (band, tuple(sig[band * rows_per_band : (band + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(doc_id)
    cand = set()
    for members in buckets.values():
        for i, j in itertools.combinations(sorted(members), 2):
            cand.add((i, j))
    rows = []
    for i, j in sorted(cand):
        k = int((sigs[i] == sigs[j]).sum())
        est4 = _round_half_up(k / num_perm, 4)  # mirrors F.round(x, 4)
        if est4 >= threshold:
            rows.append((i, j, int(_round_half_up(est4 * 10000, 0))))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "est_bp"]).astype(
        {"id_a": "int64", "id_b": "int64", "est_bp": "int64"}
    )


def _simhash_sig(text: str) -> int:
    words = re.split(r"\s+", text.lower().strip())
    if not words:
        return 0
    hv = np.fromiter((_hash64(w) for w in words), dtype=np.uint64)
    bit_cols = np.arange(64, dtype=np.uint64)
    bits = (hv[:, None] >> bit_cols) & 1
    votes = bits.sum(axis=0) * 2 - len(words)
    sig = np.uint64(0)
    for i in range(64):
        if votes[i] > 0:
            sig |= np.uint64(1) << np.uint64(i)
    return int(sig.astype(np.int64))


def gen_simhash(max_hamming=2) -> pd.DataFrame:
    sigs = {rec.doc_id: _simhash_sig(rec.text) for rec in _docs().itertuples(index=False)}
    buckets: dict = {}
    for doc_id, sig in sigs.items():
        for blk in range(4):
            key = (blk, (sig >> (blk * 16)) & 0xFFFF)
            buckets.setdefault(key, []).append(doc_id)
    cand = set()
    for members in buckets.values():
        for i, j in itertools.combinations(sorted(members), 2):
            cand.add((i, j))
    rows = []
    for i, j in sorted(cand):
        ham = bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1")
        if ham <= max_hamming:
            rows.append((i, j, ham))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"]).astype("int64")


def _lsh_buckets(vecs: np.ndarray, bands: int, bits: int, seed=42) -> np.ndarray:
    planes = _hyperplanes(vecs.shape[1], bands * bits, seed)
    b = (vecs.astype(np.float32) @ planes.T) > 0
    weights = 1 << np.arange(bits, dtype=np.int64)
    return b.reshape(len(vecs), bands, bits) @ weights  # (n, bands)


def gen_ann_lsh_cands(bands=16, bits=4, n_queries=10) -> pd.DataFrame:
    emb = _embeddings()
    ids = emb.vec_id.to_numpy()
    vecs = np.stack(emb.embedding.to_numpy()).astype(np.float32)
    buckets = _lsh_buckets(vecs, bands, bits)
    qmask = ids < n_queries
    cand = set()
    for band in range(bands):
        byb: dict = {}
        for i, v in enumerate(buckets[:, band]):
            byb.setdefault(int(v), []).append(i)
        for members in byb.values():
            qs = [i for i in members if qmask[i]]
            for q, c in itertools.product(qs, members):
                if ids[c] != ids[q]:
                    cand.add((int(ids[q]), int(ids[c])))
    return pd.DataFrame(sorted(cand), columns=["query_id", "vec_id"]).astype("int64")


def gen_ann_ivf_cands(n_cells=16, n_probe=4, n_queries=10, seed=42) -> pd.DataFrame:
    emb = _embeddings()
    ids = emb.vec_id.to_numpy()
    vecs = np.stack(emb.embedding.to_numpy()).astype(np.float32)
    # mirror train_ivf_centroids (full corpus < max_sample_rows at sf0.01)
    mat = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)]
    for _ in range(5):
        assign = np.argmax(mat @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                centroids[c] = v / max(np.linalg.norm(v), 1e-12)
    sims = mat @ centroids.T
    corpus_cell = np.argsort(-sims, axis=1)[:, :1]
    query_cells = np.argsort(-sims, axis=1)[:, :n_probe]
    cell_members: dict = {}
    for i, cells in enumerate(corpus_cell):
        cell_members.setdefault(int(cells[0]), []).append(i)
    cand = set()
    for qi in np.flatnonzero(ids < n_queries):
        for cell in query_cells[qi]:
            for ci in cell_members.get(int(cell), []):
                if ids[ci] != ids[qi]:
                    cand.add((int(ids[qi]), int(ids[ci])))
    return pd.DataFrame(sorted(cand), columns=["query_id", "vec_id"]).astype("int64")


def gen_lang_id() -> pd.DataFrame:
    profiles = {lang: set(g) for lang, g in _LANG_PROFILES.items() if g}

    def detect(text: str) -> str:
        if any("一" <= ch <= "鿿" for ch in text[:400]):
            return "zh"
        t = f" {text[:400].lower()} "
        grams = {t[i : i + 3] for i in range(len(t) - 2)}
        best, best_hits = "en", -1
        for lang, prof in profiles.items():
            hits = len(grams & prof)
            if hits > best_hits:
                best, best_hits = lang, hits
        return best

    docs = _docs()
    return pd.DataFrame(
        {"doc_id": docs.doc_id.astype("int64"), "detected_lang": [detect(t) for t in docs.text]}
    )


def gen_kg_gold() -> pd.DataFrame:
    from finance_sc_relations_spark.fixtures import generate_corpus

    _, gold, _ = generate_corpus(100)
    return (
        gold[["sentence_id", "subj_id", "pred", "obj_id"]]
        .drop_duplicates()
        .sort_values(["sentence_id", "subj_id", "obj_id"])
        .reset_index(drop=True)
    )


# --- multimodal: INDEPENDENT decoders (manual byte-offset / RIFF parsing;
# the package uses struct.unpack + the wave module) ------------------------

def _bmp_pixels_manual(payload: bytes) -> np.ndarray:
    """Manual 24-bit BMP parse: ints via int.from_bytes, bottom-up rows,
    4-byte row padding — no struct, no shared decode code."""
    assert payload[:2] == b"BM"
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    assert int.from_bytes(payload[28:30], "little") == 24
    row_bytes = (w * 3 + 3) // 4 * 4
    rows = [
        np.frombuffer(payload, np.uint8, count=w * 3, offset=off + r * row_bytes)
        for r in range(abs(h))
    ]
    if h > 0:
        rows = rows[::-1]
    return np.concatenate(rows)


def _wav_pcm_manual(payload: bytes) -> tuple[bytes, int]:
    """Manual RIFF walk: returns (PCM data bytes, sample rate)."""
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            rate = int.from_bytes(body[4:8], "little")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    assert rate is not None and data is not None
    return data, rate


def _png_pixels_manual(payload: bytes) -> np.ndarray:
    """Manual PNG parse, written INDEPENDENTLY of the package decoder:
    int.from_bytes chunk walk (no struct), pure-Python scalar unfiltering
    with the predictor inlined per row — same RFC, different code."""
    assert payload[:8] == bytes([137]) + b"PNG" + bytes([13, 10, 26, 10])
    at = 8
    width = height = None
    compressed = b""
    while at < len(payload):
        ln = int.from_bytes(payload[at : at + 4], "big")
        kind = payload[at + 4 : at + 8].decode("latin1")
        body = payload[at + 8 : at + 8 + ln]
        if kind == "IHDR":
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            assert body[8] == 8 and body[9] == 2 and body[12] == 0
        elif kind == "IDAT":
            compressed += body
        elif kind == "IEND":
            break
        at += 8 + ln + 4
    import zlib as _z

    plain = _z.decompress(compressed)
    px_prev = [0] * (width * 3)
    out: list[int] = []
    for row in range(height):
        base = row * (width * 3 + 1)
        ftype = plain[base]
        cur: list[int] = []
        for k in range(width * 3):
            x = plain[base + 1 + k]
            a = cur[k - 3] if k >= 3 else 0
            b = px_prev[k]
            c = px_prev[k - 3] if k >= 3 else 0
            if ftype == 1:
                x = x + a
            elif ftype == 2:
                x = x + b
            elif ftype == 3:
                x = x + (a + b) // 2
            elif ftype == 4:
                p_ = a + b - c
                da, db, dc = abs(p_ - a), abs(p_ - b), abs(p_ - c)
                pred = a if (da <= db and da <= dc) else (b if db <= dc else c)
                x = x + pred
            cur.append(x % 256)
        out.extend(cur)
        px_prev = cur
    return np.asarray(out, dtype=np.uint8)


def _media_payload(i: int):
    from finance_sc_relations_spark.operators.multimodal import (
        make_bmp,
        make_jpeg_shell,
        make_mp4,
        make_png,
        make_wav,
    )

    mtype = ["image", "png", "audio", "video"][i % 4]
    if mtype == "image":
        if i % 8 == 4:
            return "jpeg", make_jpeg_shell(f"media{i}")
        return mtype, make_bmp(f"media{i}")
    if mtype == "png":
        return mtype, make_png(f"media{i}")
    if mtype == "audio":
        return mtype, make_wav(f"media{i}")
    return mtype, make_mp4(
        f"media{i}", duration_ms=3000 + (i % 3) * 1000, n_tracks=1 + (i // 4) % 2
    )


def _jpeg_walk_manual(payload: bytes) -> dict:
    """INDEPENDENT JPEG marker re-walk (different code from the operator's
    _parse_jpeg): regex-free sequential scan using struct.unpack, returning
    SOF dims/components and the entropy byte range."""
    assert payload.startswith(b"\xff\xd8"), "no SOI"
    i = 2
    out = {}
    while i < len(payload) - 1:
        assert payload[i] == 0xFF
        j = i
        while payload[j] == 0xFF:
            j += 1
        marker = payload[j]
        length, = struct.unpack_from(">H", payload, j + 1)
        if marker in (0xC0, 0xC1, 0xC2):
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, j + 3)
            out.update(width=w, height=h, n_components=nc, precision=prec)
        if marker == 0xDA:
            start = j + 1 + length
            end = payload.rfind(b"\xff\xd9")
            out.update(entropy_off=start, entropy_len=end - start)
            break
        i = j + 1 + length
    return out


def _mp4_walk_manual(payload: bytes) -> dict:
    """INDEPENDENT ISO-BMFF re-walk (different code from the operator's
    _parse_mp4): recursive descent with struct.unpack, returning timescale,
    duration_ms, track count and the mdat byte range."""
    found = {"n_tracks": 0}

    def walk(lo: int, hi: int, depth: int):
        while lo + 8 <= hi:
            size, = struct.unpack_from(">I", payload, lo)
            name = payload[lo + 4 : lo + 8].decode("latin-1")
            body = lo + 8
            if size == 1:
                size, = struct.unpack_from(">Q", payload, lo + 8)
                body = lo + 16
            elif size == 0:
                size = hi - lo
            assert size >= body - lo and lo + size <= hi, "bad box"
            if name == "moov" and depth == 0:
                walk(body, lo + size, 1)
            elif name == "mvhd" and depth == 1:
                ver = payload[body]
                if ver == 1:
                    ts, = struct.unpack_from(">I", payload, body + 20)
                    dur, = struct.unpack_from(">Q", payload, body + 24)
                else:
                    ts, dur = struct.unpack_from(">II", payload, body + 12)
                found["timescale"], found["duration"] = ts, dur
            elif name == "trak" and depth == 1:
                found["n_tracks"] += 1
            elif name == "mdat" and depth == 0:
                found["mdat_off"], found["mdat_len"] = body, lo + size - body
            lo += size

    walk(0, len(payload), 0)
    found["duration_ms"] = found["duration"] * 1000 // found["timescale"]
    return found


def gen_multimodal(n=30, feature_dim=8) -> pd.DataFrame:
    """Features recomputed from an INDEPENDENT decode of the same payloads
    (manual header/RIFF/BMFF parsing above) — the oracle checks feature
    extraction AND the payload-parsed metadata probe, not just hash
    plumbing. Binning math mirrors the operator's float32 numpy ops
    exactly."""
    rows = []
    for i in range(n):
        mtype, payload = _media_payload(i)
        dur_probe = tracks_probe = px_probe = samples_probe = -1
        if mtype == "image":
            values = _bmp_pixels_manual(payload).astype(np.float32) / 255.0
            w, h = struct.unpack_from("<ii", payload, 18)
            px_probe = w * abs(h)
        elif mtype == "jpeg":
            jw = _jpeg_walk_manual(payload)
            seg = np.frombuffer(
                payload, np.uint8,
                count=jw["entropy_len"], offset=jw["entropy_off"],
            )
            values = seg.astype(np.float32) / 255.0
            px_probe = jw["width"] * jw["height"]
        elif mtype == "png":
            values = _png_pixels_manual(payload).astype(np.float32) / 255.0
            w, h = struct.unpack(">II", payload[16:24])
            px_probe = w * h
        elif mtype == "audio":
            pcm, _ = _wav_pcm_manual(payload)
            s = np.frombuffer(pcm, dtype="<i2")
            values = (s.astype(np.float32) / 32768.0 + 1.0) / 2.0
            samples_probe = len(s)
        else:
            box = _mp4_walk_manual(payload)
            mdat = np.frombuffer(
                payload, np.uint8, count=box["mdat_len"], offset=box["mdat_off"]
            )
            values = mdat.astype(np.float32) / 255.0
            dur_probe, tracks_probe = box["duration_ms"], box["n_tracks"]
        vec = np.array(
            [b.mean() if b.size else 0.0
             for b in np.array_split(values, feature_dim)],
            dtype=np.float32,
        )
        bp = np.floor(vec.astype(np.float64) * 10000 + 0.5).astype(np.int64)
        rows.append(
            (i, len(payload), hashlib.sha256(payload).hexdigest(),
             int(bp.sum()), int(bp[0]),
             dur_probe, tracks_probe, px_probe, samples_probe)
        )
    cols = ["media_id", "n_bytes", "content_sha", "feat_sum_bp", "feat0_bp",
            "duration_ms_probe", "tracks_probe", "px_probe", "samples_probe"]
    return pd.DataFrame(rows, columns=cols).astype(
        {c: "int64" for c in cols if c not in ("content_sha",)}
    )


def gen_dedup_clusters() -> pd.DataFrame:
    """Union-find over the independently-computed minhash pair set — checks
    the Spark min-label-propagation components against a second algorithm."""
    pairs = gen_minhash()
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.id_a, pairs.id_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = duckdb.sql(f"SELECT doc_id FROM '{SF}/documents.parquet' ORDER BY doc_id").df().doc_id
    rows = [(int(i), find(int(i)), int(i) == find(int(i))) for i in ids]
    return pd.DataFrame(rows, columns=["doc_id", "cluster_id", "is_canonical"]).astype(
        {"doc_id": "int64", "cluster_id": "int64"}
    )


def gen_pagerank(iterations=10, damping=0.85) -> pd.DataFrame:
    """Independent numpy power iteration over the supply-edges graph
    (lineitem⋈orders DISTINCT pairs) — cross-impl divergence vs Spark is
    ~1e-15 while the nearest 3-decimal rounding boundary is >1e-4 on this
    fixture (verified), so the quantized values are hash-stable."""
    import collections

    epdf = duckdb.sql(
        f"""SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS d
            FROM '{SF}/lineitem.parquet' l
            JOIN '{SF}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"""
    ).df()
    nodes = sorted(set(epdf.s) | set(epdf.d))
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = collections.defaultdict(list)
    for s, d in zip(epdf.s, epdf.d):
        adj[idx[s]].append(idx[d])
    r = np.ones(n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        dangling = 0.0
        for i in range(n):
            targets = adj.get(i)
            if targets:
                c = r[i] / len(targets)
                for t in targets:
                    contrib[t] += c
            else:
                dangling += r[i]
        r = (1 - damping) + damping * (contrib + dangling / n)
    return pd.DataFrame(
        {
            "entity_id": pd.array(nodes, dtype="int64"),
            "rank_pm": np.floor(r * 1000 + 0.5).astype("int64"),
        }
    )


_STOP = None


def _quality(text: str) -> float:
    """Pure-python replica of text_stats.quality_score_col (Java-regex
    semantics: ASCII \\w/\\s) with round-half-up to 4 decimals."""
    global _STOP
    if _STOP is None:
        from finance_sc_relations_spark.operators.text_stats import _STOPWORDS

        _STOP = set(_STOPWORDS)
    n = len(text)
    if n == 0:
        punct = 0.0
    else:
        punct = (n - len(re.sub(r"[^\w\s]", "", text, flags=re.ASCII))) / n
    words = re.split(r"\s+", text.lower().strip())
    if words:
        stop = len(set(words) & _STOP) / max(len(set(words)), 1)
    else:
        stop = 0.0
    q = (
        min(n / 500.0, 1.0) * 0.4
        + max(0.0, 1.0 - punct * 5.0) * 0.3
        + min(stop * 4.0, 1.0) * 0.3
    )
    return _round_half_up(q, 4)


def _word_ngrams(text: str, n: int) -> set:
    """Replica of dedup._ngram_hash_from's grams: distinct word n-grams, slice semantics
    (a shorter-than-n doc yields its whole word list as one 'gram')."""
    words = re.split(r"\s+", text.lower().strip())
    upper = max(len(words) - n, 0)
    return {g for g in (" ".join(words[i : i + n]) for i in range(upper + 1)) if g}


def gen_curation(min_quality=0.5, decon_n=13) -> pd.DataFrame:
    """End-to-end curation survivors, recomputed ENTIRELY in plain Python:
    lang gate (trigram profiles) -> quality gate -> exact dedup (md5
    fingerprint, min doc_id wins) -> MinHash/LSH near-dup union-find (keep
    root) -> 13-gram decontamination vs the doc_id%50==0 eval slice. The
    Spark side composes five operators through plans/curate.py; this checks
    the whole composition against a second implementation."""
    docs = duckdb.sql(
        f"SELECT doc_id, text, source FROM '{SF}/documents.parquet' ORDER BY doc_id"
    ).df()
    eval_rows = docs[docs.doc_id % 50 == 0]
    corpus = docs[docs.doc_id % 50 != 0]

    # 1. lang gate (same detector as gen_lang_id)
    profiles = {lang: set(g) for lang, g in _LANG_PROFILES.items() if g}

    def detect(text: str) -> str:
        if any("一" <= ch <= "鿿" for ch in text[:400]):
            return "zh"
        t = f" {text[:400].lower()} "
        grams = {t[i : i + 3] for i in range(len(t) - 2)}
        best, best_hits = "en", -1
        for lang, prof in profiles.items():
            hits = len(grams & prof)
            if hits > best_hits:
                best, best_hits = lang, hits
        return best

    cur = corpus[[detect(t) == "en" for t in corpus.text]]
    # 2. quality gate
    cur = cur[[_quality(t) >= min_quality for t in cur.text]]
    # 3. exact dedup: min doc_id per md5(lower(ws-normalized)) fingerprint
    fp = [
        hashlib.md5(re.sub(r"\s+", " ", t.strip()).lower().encode()).hexdigest()
        for t in cur.text
    ]
    cur = cur.assign(_fp=fp)
    cur = cur.loc[cur.groupby("_fp").doc_id.idxmin()].sort_values("doc_id")
    # 4. near-dup union-find over MinHash/LSH pairs among survivors
    num_perm, bands, shingle_n, threshold = 64, 16, 3, 0.5
    a, b = _minhash_params(num_perm)
    mersenne = (1 << 61) - 1
    sigs = {}
    for rec in cur.itertuples(index=False):
        x = _shingle_hashes(rec.text, shingle_n)
        if x.size == 0:
            sigs[rec.doc_id] = np.zeros(num_perm, dtype=np.int64)
        else:
            sigs[rec.doc_id] = (
                ((np.outer(a, x) + b[:, None]) % mersenne).min(axis=1).astype(np.int64)
            )
    rows_per_band = num_perm // bands
    buckets: dict = {}
    for doc_id, sig in sigs.items():
        for band in range(bands):
            key = (band, tuple(sig[band * rows_per_band : (band + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(doc_id)
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        for i, j in itertools.combinations(sorted(members), 2):
            k = int((sigs[i] == sigs[j]).sum())
            if _round_half_up(k / num_perm, 4) >= threshold:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    cur = cur[[find(int(d)) == int(d) for d in cur.doc_id]]
    # 5. decontaminate vs eval 13-grams
    ev_grams = set()
    for t in eval_rows.text:
        ev_grams |= _word_ngrams(t, decon_n)
    cur = cur[[not (_word_ngrams(t, decon_n) & ev_grams) for t in cur.text]]
    return cur[["doc_id", "source"]].reset_index(drop=True).astype({"doc_id": "int64"})


def gen_multimodal_frames(n=30, every_ms=1000) -> pd.DataFrame:
    """Frame/window payload hashes: audio windows are REAL PCM slices cut
    from the manual RIFF parse; video windows are the duration-proportional
    mdat byte ranges located by the manual BMFF re-walk (whose mvhd
    duration must OVERRIDE the deliberately-stale struct metadata) — each
    independent of the operator's decoders."""
    rows = []
    for i in range(n):
        mtype, payload = _media_payload(i)
        pcm = rate = box = None
        if mtype == "audio":
            duration = 5000
            pcm, rate = _wav_pcm_manual(payload)
        elif mtype == "video":
            box = _mp4_walk_manual(payload)
            duration = box["duration_ms"]
        else:
            duration = 0
        for fi, off in enumerate(range(0, duration, every_ms)):
            if mtype == "audio":
                lo = off * rate // 1000 * 2
                hi = (off + every_ms) * rate // 1000 * 2
                frame = pcm[lo:hi]
            elif mtype == "video":
                lo = box["mdat_off"] + box["mdat_len"] * off // duration
                hi = box["mdat_off"] + box["mdat_len"] * min(
                    off + every_ms, duration
                ) // duration
                frame = payload[lo:hi]
            else:
                frame = hashlib.blake2b(
                    payload + off.to_bytes(8, "big"), digest_size=16
                ).digest()
            rows.append((i, fi, off, hashlib.sha256(frame).hexdigest()))
    return pd.DataFrame(
        rows, columns=["media_id", "frame_index", "offset_ms", "frame_sha"]
    ).astype({"media_id": "int64", "frame_index": "int64", "offset_ms": "int64"})


def _triple_score(sentence: str, subj: str, obj: str) -> float:
    """Per-triple score replicated in plain Python from the scoring
    semantics: tag every (subj, obj) position pair (entity_annotation),
    mutate, direction-reverse ensemble, position-mean — the winning label's
    average. ent order / mutation seed don't matter (the ensemble is
    direction-symmetric and patterns match on canonicalized E1X/E2X tags,
    not surface text); alias grouping is omitted because every alias
    position of a fixture alias sentence scores identically to its target's
    position, leaving the mean unchanged."""
    from finance_sc_relations_spark.functions.tagging import (
        entity_annotation,
        inverse_relations,
        mutate_sent,
    )
    from finance_sc_relations_spark.operators.models import REPatternModel

    model = REPatternModel()
    og = {subj: 0, obj: 1}
    mats = []
    for t in entity_annotation(sentence, subj, obj, og, float("inf")):
        t = mutate_sent(t, og, seed_key="oracle")
        fwd = model.score_batch([t])[0]
        rev = model.score_batch([inverse_relations(t)])[0]
        rs = rev.copy()
        rs[[0, 1]] = rev[[1, 0]]
        mats.append(((fwd + rs) / 2.0).astype(np.float32))
    m = np.mean([x.astype(np.float64) for x in mats], axis=0)
    # E2 = obj; subj supplies_to obj => obj's role 'customer' (index 1) wins
    assert int(np.argmax(m)) == 1 and m[1] > 0.5, (sentence, subj, obj, m)
    return float(m[1])


def gen_doc_relations(n_pages=100, threshold=0.96) -> pd.DataFrame:
    """INDEPENDENT doc-relations oracle (replaces the r2 pinned Spark
    snapshot): the per-(url, company) reporter rollup recomputed in plain
    pandas from the GENERATOR's gold triples + the reporter semantics
    (src/relation_extraction/reporter.py:59-69: sum score per relation,
    argmax; reporter side dropped — no fixture company contains the host
    token 'news', so no reporter drops occur on this corpus, asserted
    below). Per-triple scores come from _triple_score above (plain-Python
    position-mean ensemble over the cleaned, re-segmented page text — no
    Spark orchestration anywhere).

    Doc-level clustering at cosine>0.96 over the page's triple surfaces uses
    HashEmbedder (a shared building block by design); alias pairs are
    omitted because every fixture alias is strictly shorter than its target
    and unique to one company, so aliases can neither become representatives
    nor bridge two canonical surfaces."""
    from collections import defaultdict

    from finance_sc_relations_spark.fixtures import generate_corpus
    from finance_sc_relations_spark.functions.similarity import HashEmbedder
    from finance_sc_relations_spark.functions.text_clean import rm_special_char

    pages, gold, _ = generate_corpus(n_pages)
    # cleaned, segmented page text (the same preprocessing contract the
    # pipeline applies before tagging), in plain Python
    sent_by_url = {
        rec.url: [
            s
            for s in re.split(r"(?<=[.!?])\s+", rm_special_char(rec.text))
            if s.strip()
        ]
        for rec in pages.itertuples(index=False)
    }
    emb = HashEmbedder()
    out_rows = []
    for url, g in gold.groupby("url"):
        orgs = sorted(
            set(g.subj_surface) | set(g.obj_surface), key=lambda s: (-len(s), s)
        )
        assert not any("news" in o.lower() for o in orgs)
        vecs = emb.encode(orgs)
        org2id, id2rep, ids_c = {}, {}, 0
        for i, c in enumerate(orgs):
            if c in org2id:
                continue
            members = [orgs[j] for j in np.flatnonzero(vecs @ vecs[i] > threshold)]
            for name in members:
                org2id.setdefault(name, ids_c)
            id2rep[ids_c] = max(members, key=len)
            ids_c += 1
        rep_map = {name: id2rep[cid] for name, cid in org2id.items()}
        records = defaultdict(list)
        for rec in g.itertuples(index=False):
            idx = int(rec.sentence_id.rsplit("#", 1)[1])
            score = _triple_score(
                sent_by_url[url][idx], rec.subj_surface, rec.obj_surface
            )
            records[rep_map[rec.subj_surface]].append(
                ("supplier", score, rec.sentence_id)
            )
            records[rep_map[rec.obj_surface]].append(
                ("customer", score, rec.sentence_id)
            )
        for company, rels in records.items():
            scores = {"supplier": 0.0, "customer": 0.0, "other": 0.0}
            for rel, s, _sid in rels:
                scores[rel] += s
            label = sorted(scores.items(), key=lambda x: -x[1])[0][0]
            out_rows.append((url, company, label, len(rels)))
    return pd.DataFrame(
        out_rows, columns=["url", "company", "relationship", "n_evidence"]
    ).astype({"n_evidence": "int64"})


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    tables = {
        "minhash_pairs": gen_minhash(),
        "simhash_pairs": gen_simhash(),
        "ann_lsh_cands": gen_ann_lsh_cands(),
        "ann_ivf_cands": gen_ann_ivf_cands(),
        "lang_id": gen_lang_id(),
        "kg_triples_gold": gen_kg_gold(),
        "multimodal_features": gen_multimodal(),
        "multimodal_frames": gen_multimodal_frames(),
        "pagerank": gen_pagerank(),
        "dedup_clusters": gen_dedup_clusters(),
        "doc_relations": gen_doc_relations(),
        "curation_survivors": gen_curation(),
        "kg_negatives": gen_kg_negatives(),
        "linked_mentions": gen_linked_mentions(),
    }
    for name, df in tables.items():
        df.to_parquet(OUT / f"{name}.parquet", index=False)
        print(f"{name}: {len(df)} rows -> {OUT / (name + '.parquet')}")




def gen_kg_negatives(k=2, max_pool=500, seed=42) -> pd.DataFrame:
    """Filtered negative sampling replicated in plain pandas + hashlib from
    DuckDB-read supply edges — same PUBLISHED formulas as
    operators/negatives.py (blake2b side/replacement draws, content-keyed
    pool, filtered anti-membership), independently written (no Spark)."""
    edges = duckdb.sql(f"""
        SELECT DISTINCT 's' || l.l_suppkey AS s, 'c' || o.o_custkey AS o
        FROM '{SF}/lineitem.parquet' l
        JOIN '{SF}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
        JOIN '{SF}/customer.parquet' c ON o.o_custkey = c.c_custkey
        JOIN '{SF}/supplier.parquet' sup ON l.l_suppkey = sup.s_suppkey
        ORDER BY s, o
    """).df()
    # ORDER BY: DuckDB's parallel hash-distinct emits nondeterministic row
    # order; without it every regeneration churns kg_negatives.parquet
    # bytes even when this generator is unchanged (the driver compare
    # sorts, but byte-stable goldens keep diffs auditable)

    def h64(*parts):
        return int.from_bytes(
            hashlib.blake2b("|".join(parts).encode(), digest_size=8).digest(),
            "big",
        )

    ents = sorted(set(edges.s) | set(edges.o))
    pool = sorted(ents, key=lambda e: (h64(e, str(seed)) % (1 << 62), e))[:max_pool]
    true = {(s, "supplies_to", o) for s, o in zip(edges.s, edges.o)}
    rows = []
    for s, o in zip(edges.s, edges.o):
        r_id = f"{s}_{o}"
        for j in range(k):
            side = "subj" if h64(r_id, str(j), "side") % 2 == 0 else "obj"
            repl = pool[h64(r_id, str(j), "ent") % len(pool)]
            ns, no = (repl, o) if side == "subj" else (s, repl)
            if side == "subj" and repl == s:
                continue
            if side == "obj" and repl == o:
                continue
            if (ns, "supplies_to", no) in true:
                continue
            rows.append((r_id, j, ns, "supplies_to", no, side))
    return pd.DataFrame(
        rows,
        columns=["r_id", "neg_idx", "subj_id", "pred", "obj_id", "corrupted"],
    ).astype({"neg_idx": "int64"})


def gen_linked_mentions(
    cand_thresh=0.8, match_thresh=0.95, top_k=5, sort_len=5
) -> pd.DataFrame:
    """Entity-linking oracle (L4-L6): the broadcast linking tier's DECISION
    LOGIC — exact map with min-(form, entity) tie resolution, prefix2
    blocking, the L5 sort-prefix begins_with gate with its leading-'the'
    dual query, match/candidate thresholds and top-k — recomputed here in
    plain Python, independently of operators/linking.py's code. Only
    HashEmbedder is imported (it IS the model; its vectors define the
    scores). Candidate sets are emitted order-insensitively (sorted ids,
    bp score sum) exactly like the Spark-side projection."""
    import math
    import string as _str

    from finance_sc_relations_spark.fixtures import (
        company_universe,
        linking_probe_surfaces,
    )
    from finance_sc_relations_spark.functions.similarity import HashEmbedder

    punct = set(_str.punctuation)

    def depunct(s: str) -> str:
        return "".join(ch for ch in s.strip() if ch not in punct).lower()

    def prefix2(s: str) -> str:
        return depunct(s).replace("the", "").replace(" ", "")[:2]

    def sort_queries(s: str) -> list:
        sort = depunct(s)
        out = []
        if sort.split(" ")[0] == "the":
            out.append(sort[: 4 + sort_len].strip())
            sort = sort[4:].strip()
        out.append(sort[:sort_len].strip())
        return out

    companies = company_universe()
    emb = HashEmbedder()

    # dictionary forms: (form, entity_id, canonical), block-ordered by
    # (form, entity_id) — the operator's broadcast order
    forms = []
    exact: dict = {}
    for rec in companies.itertuples(index=False):
        for form in [rec.canonical_name, *list(rec.aliases or [])]:
            forms.append((form, rec.entity_id, rec.canonical_name))
    forms.sort(key=lambda r: (r[0], r[1]))
    for form, eid, canon in forms:
        if form not in exact:
            exact[form] = (eid, canon)
    blocks: dict = {}
    for form, eid, canon in forms:
        blocks.setdefault(prefix2(form), []).append((form, eid, canon))
    block_emb = {
        p: emb.encode([f for f, _, _ in items]) for p, items in blocks.items()
    }
    block_sorts = {
        p: [depunct(f) for f, _, _ in items] for p, items in blocks.items()
    }

    def bp(x: float) -> int:
        return int(math.floor(float(x) * 10000 + 0.5))

    rows = []
    for surface in linking_probe_surfaces(companies):
        p = prefix2(surface)
        items = blocks.get(p, [])
        eligible = [
            j
            for j, sn in enumerate(block_sorts.get(p, []))
            if any(sn.startswith(q) for q in sort_queries(surface))
        ]
        cands = []
        best = None
        if eligible:
            v = emb.encode([surface])[0]
            sims = block_emb[p][eligible] @ v
            order = sorted(range(len(eligible)), key=lambda j: (-sims[j], j))
            for j in order:
                s = float(sims[j])
                if s < cand_thresh or len(cands) >= top_k:
                    break
                if s >= match_thresh:
                    continue
                form, eid, _ = items[eligible[j]]
                cands.append((eid, s))
            # best form: the first (min (form, entity_id)) among the forms
            # that reach match_thresh and lie within 1e-6 of the top score;
            # a raw float32 argmax flips on an ulp
            floor = max(float(sims[order[0]]) - 1e-6, match_thresh)
            linked = [j for j in range(len(eligible)) if sims[j] >= floor]
            if linked:
                form, eid, canon = items[eligible[linked[0]]]
                best = (eid, canon, float(sims[linked[0]]))
        hit = exact.get(surface)
        if hit is not None:
            eid, canon, score = hit[0], hit[1], 1.0
        elif best is not None:
            eid, canon, score = best
        else:
            eid, canon, score = "", "", None
        rows.append(
            (
                surface,
                eid,
                canon,
                bp(score) if score is not None else -1,
                len(cands),
                ",".join(sorted(e for e, _ in cands)),
                sum(bp(s) for _, s in cands),
            )
        )
    return pd.DataFrame(
        rows,
        columns=[
            "surface",
            "entity_id",
            "matched_name",
            "score_bp",
            "n_candidates",
            "cand_ids",
            "cand_sum_bp",
        ],
    ).astype({"score_bp": "int64", "n_candidates": "int64", "cand_sum_bp": "int64"})


if __name__ == "__main__":
    main()
