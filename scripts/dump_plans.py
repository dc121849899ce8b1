#!/usr/bin/env python
"""Dump formatted physical plans of the headline queries to PLANS.md so the
optimization claims (pushdown, pruning, broadcast, map-side combine, salted
two-phase aggregation) are inspectable without running anything."""

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from finance_sc_relations_spark.session import build_session  # noqa: E402
import __spark_entry__ as E  # noqa: E402

SF = "/root/testdata/sf0.01"
SHOW = [
    "supply_edges", "pricing_summary", "filtered_scan_isin",
    "anti_join_incremental", "topk_window", "skewed_user_agg",
    "clean_text", "word_jaccard_pairs", "embedding_near_dups", "khop_2",
    "sessionize", "asof_join_events", "cube_rollup", "rolling_revenue",
    "triangle_count", "token_cooccurrence",
    "duplicate_spans", "bm25_top_terms", "percentile_profile",
    "kg_negatives", "cut_duplicate_spans",
]


def main() -> None:
    spark = build_session(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**E.queries(), **E.extra_queries()}
    out = [
        "# Physical plans of headline queries (sf0.01, AQE on)\n",
        "Note: fact-table reads go through ensure_parallelism, so plans at\n"
        "this SF show a leading round-robin Exchange — the fixture parquet\n"
        "files are single-row-group (unsplittable); on real multi-partition\n"
        "inputs that node disappears (the helper is a no-op).\n",
    ]
    for name in SHOW:
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan}```\n")
    # supply_edges at scale: with auto-broadcast off (how a 100 TB orders
    # table would plan), lineitem⋈orders must be a shuffle join — the query
    # carries NO broadcast hint on the fact side, so Catalyst is free to
    # choose SMJ here and broadcast at small SF.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    df = qs["supply_edges"](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    out.append(
        "## supply_edges (autoBroadcastJoinThreshold=-1 — the 100 TB shape)\n"
        "\nFact⋈fact (lineitem⋈orders) plans as a shuffle join because the"
        " query has no broadcast hint on the fact side; at small SF Catalyst"
        " auto-broadcasts instead. Dim joins stay broadcast by hint.\n"
        f"\n```\n{plan}```\n"
    )
    # link_triples at scale: the surface map (one row per distinct corpus
    # surface, ~10^7+ at web scale) carries no broadcast hint — with
    # auto-broadcast off, both endpoint joins plan as shuffle joins; below
    # the threshold AQE turns them into broadcast joins at runtime.
    from finance_sc_relations_spark.operators.graph import link_triples

    triples = spark.createDataFrame(
        [("u", "s0", "r0", "A", "supplies_to", "B", 0.9)],
        "url string, sentence_id string, r_id string, subj_surface string,"
        " pred string, obj_surface string, score double",
    )
    s2e = spark.createDataFrame(
        [("A", "LEI1"), ("B", "LEI2")], "surface string, entity_id string"
    )
    df = link_triples(triples, s2e)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    out.append(
        "## link_triples (autoBroadcastJoinThreshold=-1 — the 100 TB shape)"
        "\n\nNo broadcast hint on the surface→entity map: both endpoint"
        " joins are plain equi-joins (SMJ here with auto-broadcast off). With"
        " auto-broadcast on, AQE reads the materialized map's size at runtime"
        " and broadcasts a small map.\n"
        f"\n```\n{plan}```\n"
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOW) + 1} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
