import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from finance_sc_relations_spark.session import build_session  # noqa: E402


def pytest_configure(config):
    # A deprecated call in package code fails the test that reaches it.
    config.addinivalue_line(
        "filterwarnings", "error::DeprecationWarning:finance_sc_relations_spark"
    )


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="fsr-tests", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def fixture_corpus():
    """Deterministic 300-page corpus (pages_pdf, gold_pdf, companies_pdf)."""
    from finance_sc_relations_spark.fixtures import generate_corpus

    return generate_corpus(300)


@pytest.fixture(scope="session")
def fused_and_unfused():
    """The unfused extraction path as a test oracle for the fused one.

    Returns f(out, cfg) -> (fused, unfused): the run_pipeline output's
    `classified` rows, and the rows classify_pairs(generate_tagged_pairs(
    out["gated"])) yields under the same model and tokenizer arguments.
    Rows are sorted (r_id, entity1, entity2, relation, score to 1e-6)
    tuples. Each call re-executes both paths."""
    from finance_sc_relations_spark.operators.pairs import generate_tagged_pairs
    from finance_sc_relations_spark.operators.re_classifier import classify_pairs

    def rows(df):
        return sorted(
            (r["r_id"], r["entity1"], r["entity2"], r["relation"],
             round(r["score"], 6))
            for r in df.collect()
        )

    def run(out, cfg):
        pairs = generate_tagged_pairs(
            out["gated"].select("url", "sentence_id", "sentence", "org_groups"),
            num_positions=cfg.num_positions,
        )
        unfused = classify_pairs(
            pairs.select("url", "sentence_id", "r_id", "sents", "entity1",
                         "entity2", "org_groups"),
            mutate=cfg.mutate,
            reverse=cfg.reverse,
            model_broadcast=cfg.re_model_broadcast,
            model_path=cfg.re_model_path,
            tokenizer_broadcast=cfg.re_tokenizer_broadcast,
            max_length=cfg.re_max_length,
        )
        return rows(out["classified"]), rows(unfused)

    return run
