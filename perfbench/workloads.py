"""The benchmark's workloads: seeded inputs, the timed job, output checks
and the traced per-layer pass.

Each workload is a closed loop: one process runs one job at a time. Inputs
are generated in one process from the seed and written as parquet under the
run's work directory, outside the package tree.
"""

from __future__ import annotations

import importlib.util
import json
import random
import shutil
from contextlib import ExitStack
from pathlib import Path
from unittest import mock

import pandas as pd
from pyspark.sql import functions as F

from finance_sc_relations_spark import fixtures
from finance_sc_relations_spark.operators import extract_fused, re_classifier
from finance_sc_relations_spark.operators.pairs import generate_tagged_pairs
from finance_sc_relations_spark.plans import pipeline
from finance_sc_relations_spark.plans.checkpoint import CheckpointManager
from finance_sc_relations_spark.plans.curate import run_curation_checkpointed
from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline

from tracing import Tracer, force, python_seconds

GOLD_MIN = 0.95  # gold-triple precision and recall contract
KG_OUTPUTS = ("linked_triples", "edges", "edges_global", "vertices")
# The layer calls run_pipeline makes, by the module and name it calls them
# through (it imports the fused extraction pair from their own modules at
# call time), and the span each is traced as.
TRACED_CALLS = {
    pipeline: {
        "segment_sentences": "segment.sentences",
        "detect_mentions": "ner.mentions",
        "gate_multi_org": "ner.multi_org",
        "sc_gate": "sc_classifier.gated",
        "emit_triples": "graph.triples",
        "link_surfaces": "linking.linked_surfaces",
        "build_alias_edges": "graph.alias_edges",
        "canonicalize_unmatched": "linking.surface_to_entity",
        "link_triples": "graph.linked_triples",
        "build_edges": "graph.edges",
        "build_edges_global": "graph.edges_global",
        "build_vertices": "graph.vertices",
    },
    extract_fused: {"tag_and_score": "extract_fused.scored"},
    re_classifier: {"aggregate_positions": "re_classifier.classified"},
}
PROFILED_SPANS = ("ner.mentions", "extract_fused.scored", "linking.linked_surfaces")
LINKED_COLS = [
    "url", "sentence_id", "r_id", "subj_id", "pred", "obj_id",
    "subj_surface", "obj_surface", "score",
]


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    """Order-independent row multiset (arrays as tuples) for equality checks."""
    return sorted(
        tuple(tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v
              for v in rec)
        for rec in pdf.itertuples(index=False, name=None)
    )


def _precision_recall(got: set, want: set) -> tuple[float, float]:
    hit = len(got & want)
    return (hit / len(got) if got else 0.0, hit / len(want) if want else 0.0)


def _write_pages(pages: pd.DataFrame, out: Path) -> None:
    """Four part files; Spark cannot read TIMESTAMP(NANOS) parquet."""
    out.mkdir(parents=True)
    pages = pages.assign(warc_ts=pages["warc_ts"].astype("datetime64[us, UTC]"))
    step = -(-len(pages) // 4)
    for i, start in enumerate(range(0, len(pages), step)):
        pages.iloc[start:start + step].to_parquet(
            out / f"part-{i:04d}.parquet", index=False
        )


def _size_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


class Workload:
    """One seeded workload. Subclasses define the inputs, the timed job,
    its checks and the traced pass."""

    job_spans: tuple = ()  # the traced pass's spans that run the timed job

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def generate(self):
        """Pure-Python, seeded input generation; returns comparable data."""
        raise NotImplementedError

    def same_inputs(self, a, b) -> bool:
        return all(x.equals(y) for x, y in zip(a, b))

    def load(self, inputs) -> None:
        """Write inputs under the work directory."""
        raise NotImplementedError

    def expect(self) -> None:
        """Compute expected outputs (outside every timer)."""

    def warmup(self) -> None:
        """Untimed pass over the full input. At these sizes the first run's
        cost is fixed (JVM and Python-worker warm-up), so a small slice
        would warm no faster and leave the first timed run slower."""
        self.cleanup(self.run())

    def run(self) -> dict:
        """The timed job: input to complete forced result."""
        raise NotImplementedError

    def check(self, result: dict) -> dict:
        """Output checks outside the timer: {'ok', 'precision', 'recall',
        'outputs'}."""
        raise NotImplementedError

    def traced(self, tracer: Tracer) -> dict:
        """Per-layer pass; returns per-layer metrics plus 'ok'."""
        raise NotImplementedError

    def cleanup(self, result: dict) -> None:
        self.spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# KG workload
# ---------------------------------------------------------------------------

class KgCrawl(Workload):
    """run_pipeline over a seeded fixture corpus with the 200-company
    dictionary (30% mega-company skew, 5% non-English pages)."""

    n_pages = n_records = 2000
    job_spans = ("pipeline.dictionary",)

    def generate(self):
        companies = fixtures.company_universe()
        # every page is drawn from blake2(SEED | url); seed 42 reproduces
        # the fixture corpus
        with mock.patch.object(fixtures, "SEED", self.seed):
            return fixtures.generate_corpus(self.n_pages, companies=companies)

    def load(self, inputs) -> None:
        pages, gold, companies = inputs
        _write_pages(pages, self.work / "pages.parquet")
        companies.to_parquet(self.work / "company_dict.parquet", index=False)
        self.gold = set(gold[["sentence_id", "subj_id", "obj_id"]].itertuples(
            index=False, name=None))

    def _read(self):
        read = self.spark.read.parquet
        return (read(str(self.work / "pages.parquet")),
                read(str(self.work / "company_dict.parquet")))

    def run(self) -> dict:
        out = run_pipeline(self.spark, *self._read(), PipelineConfig())
        for k in KG_OUTPUTS:
            force(out[k])
        return out

    def _linked(self, linked) -> pd.DataFrame:
        return linked.select(*LINKED_COLS).toPandas()

    def _gold_check(self, linked_pdf: pd.DataFrame) -> dict:
        got = set(linked_pdf[["sentence_id", "subj_id", "obj_id"]].itertuples(
            index=False, name=None))
        p, r = _precision_recall(got, self.gold)
        return {"ok": p >= GOLD_MIN and r >= GOLD_MIN, "precision": p,
                "recall": r, "outputs": len(linked_pdf)}

    def check(self, result: dict) -> dict:
        linked = self._linked(result["linked_triples"])
        self.last_linked = _rows(linked)
        return self._gold_check(linked)

    def traced(self, tracer: Tracer) -> dict:
        """run_pipeline itself, with each layer call it makes run as a span
        (tracer.wrap); the whole call and its output forces are the parent
        span pipeline.dictionary, whose self time is what plans.pipeline
        does itself: the dictionary count and collect and the wiring. Then
        the unfused pairs path the checkpointed workloads take, over the
        same pair input."""
        cfg = PipelineConfig()
        with ExitStack() as stack:
            for module, spans in TRACED_CALLS.items():
                stack.enter_context(mock.patch.multiple(module, **{
                    name: tracer.wrap(span, getattr(module, name))
                    for name, span in spans.items()}))
            with tracer.span("pipeline.dictionary"):
                out = run_pipeline(self.spark, *self._read(), cfg)
                for k in KG_OUTPUTS:
                    force(out[k])

        pair_input = tracer.calls["extract_fused.scored"][1][0]
        pairs = tracer.layer("pairs.tagged", lambda: generate_tagged_pairs(
            pair_input, num_positions=cfg.num_positions))
        tracer.layer("re_classifier.classify_pairs", lambda: re_classifier.classify_pairs(
            pairs.select("url", "sentence_id", "r_id", "sents", "entity1",
                         "entity2", "org_groups"),
            mutate=cfg.mutate, reverse=cfg.reverse,
            model_partitions=cfg.model_partitions))
        tracer.count_outputs()

        with tracer.aux():
            matched = out["linked_surfaces"].filter(F.col("entity_id").isNotNull()).count()
            linked_pdf = self._linked(out["linked_triples"])
        metrics = {
            f"{span}.python_s": python_seconds(self.spark, tracer, tracer.calls[span])
            for span in PROFILED_SPANS
        }
        c = tracer.counts

        def ratio(num, den):
            return num / den if den else 0.0

        metrics.update({
            "ner.multi_org.keep_ratio": ratio(c["ner.multi_org"]["rows"],
                                              c["ner.mentions"]["rows"]),
            "sc_classifier.gated.keep_ratio": ratio(c["sc_classifier.gated"]["rows"],
                                                    c["ner.multi_org"]["rows"]),
            "graph.triples.keep_ratio": ratio(c["graph.triples"]["rows"],
                                              c["re_classifier.classified"]["rows"]),
            "linking.linked_surfaces.match_ratio": ratio(
                matched, c["linking.linked_surfaces"]["rows"]),
            "segment.sentences.max_part_share":
                c["segment.sentences"]["max_part_share"],
            "graph.edges_global.max_part_share":
                c["graph.edges_global"]["max_part_share"],
        })
        # checkpointing every layer output must not change the result, and
        # the unfused path must classify the same pairs as the fused one
        metrics["ok"] = (self._gold_check(linked_pdf)["ok"]
                         and _rows(linked_pdf) == self.last_linked
                         and c["re_classifier.classify_pairs"]["rows"]
                         == c["re_classifier.classified"]["rows"])
        return metrics


# ---------------------------------------------------------------------------
# Curation workload
# ---------------------------------------------------------------------------

_EN = ("the and of a to in is for with on that data spark query table join "
       "scan filter group value stream window batch column row sort hash "
       "merge vector order customer part line key fast slow big small").split()
_OTHER = {
    "de": "der die und ein nicht sich auch mit schnell daten tabelle".split(),
    "fr": "le les de que est une des et qui pas donnees table".split(),
    "es": "el la de que los las por con una es datos tabla".split(),
}
_ZH = list("数据查询表连接扫描过滤分组")


CURATION_SPANS = {
    "curate_lang": "text_stats.lang",
    "curate_quality": "text_stats.quality",
    "curate_exact_dedup": "dedup.exact_dedup",
    "curate_near_dup": "dedup.near_dup",
    "curate_decontaminate": "dedup.decontaminate",
}


def _load_oracle(root: Path):
    """scripts/gen_expected.py: the plain-Python curation oracle."""
    spec = importlib.util.spec_from_file_location(
        "gen_expected", root / "scripts" / "gen_expected.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class CurateResume(Workload):
    """run_curation_checkpointed (plans.curate's CURATION_GATES through the
    CheckpointManager) over a seeded document corpus into a fresh
    checkpoint root, then a rerun over the completed root; both runs'
    survivors are forced. The decontamination slice is doc_id % 50 == 0,
    whose documents the seed picks; exact duplicates, near duplicates,
    low-quality and contaminated documents are planted."""

    n_docs = n_records = 5000
    job_spans = ("checkpoint.cold", "checkpoint.resume")
    _n_roots = 0

    def generate(self):
        rng = random.Random(f"curate|{self.seed}")
        texts: list[str] = []
        langs: list[str] = []
        # duplicates copy only original documents, so every duplicate
        # cluster is a star and the near-dup CC loop converges in the same
        # number of rounds whatever the seed
        originals: list[int] = []
        for _ in range(self.n_docs):
            roll = rng.random()
            if originals and roll < 0.04:  # exact duplicate modulo case/spaces
                src = rng.choice(originals)
                text = "  " + texts[src].upper().replace(" ", "   ") + " "
                lang = langs[src]
            elif originals and roll < 0.09:  # near duplicate: two words replaced
                src = rng.choice(originals)
                words = texts[src].split()
                for _ in range(2):
                    words[rng.randrange(len(words))] = rng.choice(_EN)
                text, lang = " ".join(words), langs[src]
            elif roll < 0.14:  # low quality: short punctuation soup
                text = " ".join(rng.choice(_EN) + rng.choice("!?#;:") * 3
                                for _ in range(rng.randint(3, 8)))
                lang = "en"
            else:
                lang = rng.choices(["en", "de", "fr", "es", "zh"],
                                   [0.6, 0.1, 0.1, 0.1, 0.1])[0]
                n = rng.randint(10, 90)
                if lang == "zh":
                    text = "".join(rng.choice(_ZH) for _ in range(n))
                else:
                    vocab = _EN if lang == "en" else _OTHER[lang] + _EN[6:]
                    text = " ".join(rng.choice(vocab) for _ in range(n))
                if originals and rng.random() < 0.03:  # shares a 13-gram
                    donor = texts[rng.choice(originals)].split()
                    if len(donor) >= 13:
                        k = rng.randrange(len(donor) - 12)
                        text += " " + " ".join(donor[k:k + 13])
                originals.append(len(texts))
            texts.append(text)
            langs.append(lang)
        order = list(range(self.n_docs))
        rng.shuffle(order)  # the seed decides which documents land on the slice
        docs = pd.DataFrame({
            "doc_id": pd.array(range(self.n_docs), dtype="int64"),
            "text": [texts[j] for j in order],
            "lang": [langs[j] for j in order],
            "source": [f"src{j % 20}" for j in range(self.n_docs)],
        })
        docs["n_chars"] = docs["text"].str.len().astype("int64")
        return (docs,)

    def load(self, inputs) -> None:
        (docs,) = inputs
        docs.to_parquet(self.work / "documents.parquet", index=False)
        on_slice = docs["doc_id"] % 50 == 0
        docs[~on_slice].to_parquet(self.work / "corpus.parquet", index=False)
        docs[on_slice][["text"]].to_parquet(self.work / "evals.parquet", index=False)

    def expect(self) -> None:
        oracle = _load_oracle(Path.cwd())
        oracle.SF = str(self.work)
        self.expected = _rows(oracle.gen_curation())

    def _root(self) -> Path:
        self._n_roots += 1
        return self.work / f"ckpt-{self._n_roots}"

    def _curate(self, root: Path):
        out = run_curation_checkpointed(
            self.spark, str(self.work / "corpus.parquet"), root,
            eval_texts_path=str(self.work / "evals.parquet"), min_quality=0.5)
        curated = out["curated"].select("doc_id", "source")
        force(curated)
        return curated

    def run(self) -> dict:
        root = self._root()
        return {"root": root, "cold": self._curate(root),
                "resumed": self._curate(root)}

    def check(self, result: dict) -> dict:
        cold = _rows(result["cold"].toPandas())
        resumed = _rows(result["resumed"].toPandas())
        p, r = _precision_recall(set(resumed), set(self.expected))
        return {"ok": resumed == self.expected and cold == resumed,
                "precision": p, "recall": r, "outputs": len(resumed)}

    def cleanup(self, result: dict) -> None:
        super().cleanup(result)
        shutil.rmtree(result["root"])

    def traced(self, tracer: Tracer) -> dict:
        """One span per CheckpointManager.run_stage call, named after the
        curation layer the stage runs, inside checkpoint.cold; then the
        rerun over the completed root as checkpoint.resume."""
        root = self._root()
        original = CheckpointManager.run_stage
        metrics = {}

        def run_stage(manager, stage, df_fn, input_fingerprint, input_rows=None):
            name = CURATION_SPANS[stage]
            with tracer.span(name):
                out = original(manager, stage, df_fn, input_fingerprint, input_rows)
            # read back from the stage's manifest: a count job here would
            # land in checkpoint.cold's self time
            manifest = json.loads((manager.root / stage / "_MANIFEST.json").read_text())
            tracer.counts[name] = {"rows": manifest["output_rows"]}
            metrics[f"{name}.mb_written"] = _size_mb(manager.root / stage / "data")
            return out

        with mock.patch.object(CheckpointManager, "run_stage", run_stage):
            with tracer.span("checkpoint.cold"):
                self._curate(root)
        with tracer.span("checkpoint.resume"):
            resumed = self._curate(root)
        with tracer.aux():
            metrics["ok"] = _rows(resumed.toPandas()) == self.expected
        tracer.spark.catalog.clearCache()
        shutil.rmtree(root)
        return metrics


WORKLOADS = {
    "kg_crawl": KgCrawl,
    "curate_resume": CurateResume,
}
