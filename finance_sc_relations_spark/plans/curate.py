"""End-to-end corpus curation DAG — the C4/RefinedWeb-style composition of
the curation operators this engine ships, in the canonical order a
training-data pipeline applies them:

    lang-ID gate -> quality gate -> exact dedup -> near-dup (MinHash+LSH
    connected components, keep canonical) -> benchmark decontamination

Each stage is one of the already-oracle-checked operators; this module only
composes filters (left_semi joins on doc_id — no row widening, no extra
columns carried between stages) and, optionally, a per-stage survivor-count
report (the lineage evidence a curation run must emit: what was dropped
where, no silent shrinkage).

Scale notes: every gate is a semi-join on the id — broadcastable while the
surviving id set fits (AQE decides), plain shuffle join beyond; the
expensive signature stages (minhash, 13-gram explode) run AFTER the cheap
gates have shrunk the corpus, which is the ordering that matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import decontaminate, exact_dedup, near_dup_clusters
from ..operators.text_stats import lang_id, quality_score_col


def _gate_lang(docs, *, lang, id_col, text_col, **_):
    # include_text=False: the gate only consumes the decision — don't ship
    # the text column back out of the Python worker (guide §4.1)
    kept = lang_id(
        docs, text_col=text_col, id_col=id_col, include_text=False
    ).filter(F.col("detected_lang") == lang)
    return docs.join(kept.select(id_col), id_col, "left_semi")


def _gate_quality(prev, *, min_quality, text_col, **_):
    return prev.filter(quality_score_col(text_col) >= min_quality)


def _gate_exact_dedup(prev, *, id_col, text_col, **_):
    return exact_dedup(prev, text_col=text_col, id_col=id_col)


def _gate_near_dup(prev, *, id_col, minhash_params, **_):
    clusters = near_dup_clusters(prev, id_col=id_col, **minhash_params)
    return prev.join(
        clusters.filter(F.col("is_canonical")).select(id_col),
        id_col,
        "left_semi",
    )


def _gate_decontaminate(prev, *, eval_texts, decontaminate_n, id_col,
                        text_col, **_):
    return decontaminate(
        prev, eval_texts, n=decontaminate_n, text_col=text_col, id_col=id_col
    )


# ONE ordered gate list consumed by BOTH the eager and the checkpointed
# runner — the same single-copy rationale as operators/cc.py: a gate
# changed in one runner must not silently diverge from its twin.
CURATION_GATES = [
    ("lang", _gate_lang),
    ("quality", _gate_quality),
    ("exact_dedup", _gate_exact_dedup),
    ("near_dup", _gate_near_dup),
]


def curate_corpus(
    docs: DataFrame,
    eval_texts: DataFrame | None = None,
    lang: str = "en",
    min_quality: float = 0.5,
    decontaminate_n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_params,
) -> dict:
    """Returns {"curated": DataFrame, "cached": list[DataFrame]}.

    "cached" lists the frames this call persisted (branch points consumed
    by several downstream passes); long-lived sessions should unpersist
    them after materializing the curated output. Per-stage survivor counts
    are the `_lineage` output_rows of run_curation_checkpointed."""
    from pyspark import StorageLevel

    cached: list[DataFrame] = []
    params = dict(
        lang=lang, min_quality=min_quality, decontaminate_n=decontaminate_n,
        id_col=id_col, text_col=text_col, minhash_params=minhash_params,
        eval_texts=eval_texts,
    )

    cur = docs
    for name, gate in CURATION_GATES:
        cur = gate(cur, **params)
        if name == "exact_dedup":
            # Branch point: the deduped frame feeds the MinHash signature
            # pass AND the canonical semi-join (and, transitively,
            # decontaminate's two consumers) — without the persist the
            # lang/quality/window chain above re-executes once per
            # consumer. Bounded: survivors only.
            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(cur)

    if eval_texts is not None:
        # decontaminate consumes its input twice (gram explode + anti-join)
        cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(cur)
        cur = _gate_decontaminate(cur, **params)
    return {"curated": cur, "cached": cached}


def run_curation_checkpointed(
    spark,
    docs_path: str,
    checkpoint_root,
    eval_texts_path: str | None = None,
    lang: str = "en",
    min_quality: float = 0.5,
    decontaminate_n: int = 13,
    run_id: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_params,
) -> dict:
    """The resumable form of curate_corpus: every gate materializes through
    the same CheckpointManager the KG pipeline uses (stage tables +
    manifests + per-partition `_lineage` rows). Killing the job between
    stages and rerunning with the same checkpoint_root resumes after the
    last completed stage and yields byte-identical survivor tables;
    regenerating the input in place (same path, new content) invalidates
    every stage via the per-file (relpath, size, mtime_ns) fingerprint.

    The per-stage survivor counts are the `_lineage` output_rows column —
    counting falls out of checkpointing instead of costing extra actions.

    Returns {"curated", "lineage", "run_id", "manager"}."""
    from .checkpoint import CheckpointManager, _input_signature, footer_rows

    ckpt = CheckpointManager(spark, checkpoint_root, run_id=run_id)
    # EVERY result-affecting parameter folds into the fingerprint —
    # including id_col/text_col (a rerun against different columns must
    # recompute, not resume stages gated on the old columns).
    fp = (
        f"{docs_path}|{eval_texts_path}|{lang}|{min_quality}"
        f"|{decontaminate_n}|{id_col}|{text_col}"
        f"|{sorted(minhash_params.items())}"
        f"|{_input_signature(docs_path)}"
    )
    if eval_texts_path is not None:
        fp += f"|{_input_signature(eval_texts_path)}"

    gates = [(f"curate_{name}", gate) for name, gate in CURATION_GATES]
    if eval_texts_path is not None:
        gates.append(("curate_decontaminate", _gate_decontaminate))
    # Read the inputs only when a stage must run: a read infers the parquet
    # schema with a Spark job.
    docs = eval_texts = n_input = None
    if not ckpt.all_complete((name for name, _ in gates), fp):
        docs = spark.read.parquet(docs_path)
        if eval_texts_path is not None:
            eval_texts = spark.read.parquet(eval_texts_path)
        # Lineage input_rows for the first stage, from the input's parquet
        # footers: no Spark job, no data read.
        n_input = sum(footer_rows(docs_path).values())
    params = dict(
        lang=lang, min_quality=min_quality, decontaminate_n=decontaminate_n,
        id_col=id_col, text_col=text_col, minhash_params=minhash_params,
        eval_texts=eval_texts,
    )

    cur = docs
    for i, (name, gate) in enumerate(gates):
        prev = cur
        cur = ckpt.run_stage(
            name,
            lambda g=gate, p=prev: g(p, **params),
            fp,
            input_rows=n_input if i == 0 else None,
        )
    return {
        "curated": cur,
        "lineage": ckpt.lineage(),
        "run_id": ckpt.run_id,
        "manager": ckpt,
    }
