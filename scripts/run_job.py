#!/usr/bin/env python
"""spark-submit entry point for the KG-construction job.

Cluster usage (the north-rule shipping form):

    python scripts/make_dist.py   # -> dist/finance_sc_relations_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/finance_sc_relations_spark.zip \
        scripts/run_job.py \
        --pages s3://bucket/pages/ --company-dict s3://bucket/dict/ \
        --output s3://bucket/kg/ --checkpoint /mnt/shared/ckpt/

Local smoke:

    spark-submit --master local[8] \
        --py-files dist/finance_sc_relations_spark.zip \
        scripts/run_job.py --pages <dir>/pages.parquet \
        --company-dict <dir>/company_dict.parquet --output /tmp/kg_out

With --checkpoint the job runs the resumable pipeline (stage tables +
_lineage; rerunning after a kill resumes). The checkpoint root must be a
filesystem path the driver can see, not an object-store URI: the driver
reads the stage tables' footers and writes their manifests and _lineage
files itself (a shared mount when the executors are remote). Without it,
the in-memory DAG.
Both runners walk the same stage list and return the same four outputs,
written under --output as triples, edges, edges_global and vertices.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--pages", required=True)
    parser.add_argument("--company-dict", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--checkpoint", default=None)
    parser.add_argument("--lang", default="en")
    parser.add_argument("--score-threshold", type=float, default=0.5)
    parser.add_argument("--no-sc-gate", action="store_true")
    parser.add_argument("--salt-buckets", type=int, default=32)
    args = parser.parse_args()

    # Import AFTER spark-submit has added --py-files to sys.path.
    from pyspark.sql import SparkSession

    from finance_sc_relations_spark.plans.pipeline import PipelineConfig, run_pipeline
    from finance_sc_relations_spark.plans.checkpoint import run_pipeline_checkpointed

    spark = SparkSession.builder.appName("fsr-kg-construct").getOrCreate()
    cfg = PipelineConfig(
        lang=args.lang,
        use_sc_gate=not args.no_sc_gate,
        score_threshold=args.score_threshold,
        salt_buckets=args.salt_buckets,
    )
    t0 = time.perf_counter()
    if args.checkpoint:
        out = run_pipeline_checkpointed(
            spark, args.pages, args.company_dict, args.checkpoint, cfg
        )
    else:
        pages = spark.read.parquet(args.pages)
        company_dict = spark.read.parquet(args.company_dict)
        out = run_pipeline(spark, pages, company_dict, cfg)

    for name, key in (("triples", "linked_triples"), ("edges", "edges"),
                      ("edges_global", "edges_global"),
                      ("vertices", "vertices")):
        out[key].write.mode("overwrite").parquet(f"{args.output}/{name}")
    n_triples = spark.read.parquet(f"{args.output}/triples").count()
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "n_triples": n_triples,
                "wall_sec": round(wall, 2),
                "triples_per_sec": round(n_triples / max(wall, 1e-9), 2),
                "output": args.output,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
