"""Per-stage checkpointing, lineage and resume.

The Spark form of the reference's job-state machinery: S3 JSON meta files
holding inputs/success/failed/blocked file-ID sets with a freeze-mutex
(src/glue/glue_etl.py:213-374) and per-document stage counters in a logs
table (glue_etl.py:620-647). `CheckpointManager.run_stage` runs a stage as
ONE Spark action, a plain unpartitioned parquet write into a temp dir, and
takes the rest from what that write left on disk:

- row counts come from the part files' parquet footers, summed per
  `part-NNNNN-` file name, so a `_lineage` row's `partition_id` is the
  partition of the task that wrote the rows;
- the driver appends (run_id, stage, partition_id, input_rows,
  output_rows, dropped_invalid, wall_ms) rows to the `_lineage` parquet
  dir as one file;
- the temp dir is renamed to `<stage>/data`, and `<stage>/_MANIFEST.json`
  records the input fingerprint, the row count and the frame's schema;
  stage tables are read back with that schema, so no read infers one.

Resume: a stage whose manifest names the same input fingerprint is read
back instead of recomputed (the analog of `set(requested) - set(existed)`,
glue_etl.py:652-660). The unit is the STAGE x input fingerprint, not the
reference's block of files (glue_etl.py:313-374); the temp-dir rename
gives snapshot isolation without a freeze-mutex. The manager works on the
checkpoint root from the driver, so the root must be a filesystem path
the driver can see.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..schemas import LINEAGE
from .pipeline import KG_STAGES, PipelineConfig, kg_inputs, kg_outputs


def footer_rows(path: str | Path) -> dict[Path, int]:
    """Row count of every parquet file Spark reads at `path` (the file
    itself, or the files under the dir outside `_`/`.`-prefixed names),
    from the footers alone: no Spark job, no data pages read."""
    p = Path(path)
    files = [p] if p.is_file() else [
        f for f in sorted(p.rglob("*")) if f.is_file() and not any(
            part.startswith(("_", ".")) for part in f.relative_to(p).parts)
    ]
    return {f: pq.read_metadata(f).num_rows for f in files}


class CheckpointManager:
    """Directory-backed stage checkpointing with lineage."""

    def __init__(self, spark: SparkSession, root: str | Path, run_id: str | None = None):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.run_id = run_id or uuid.uuid4().hex[:12]

    # -- lineage ----------------------------------------------------------

    def _manifest_path(self, stage: str) -> Path:
        return self.root / stage / "_MANIFEST.json"

    def write_lineage(self, stage: str, input_rows: int, output_rows: int,
                      dropped_invalid: int, wall_ms: int,
                      partition_counts: dict[int, int] | None = None) -> None:
        """One lineage row per output partition. partition_counts maps
        partition_id -> that partition's output row count; input_rows and
        wall_ms are stage-level and repeated on each row for self-contained
        reads. Written by the driver as one parquet file, renamed into
        place so a reader never sees it half-written."""
        parts = partition_counts or {0: output_rows}
        rows = [
            dict(run_id=self.run_id, stage=stage, partition_id=p,
                 input_rows=input_rows, output_rows=n,
                 dropped_invalid=dropped_invalid, wall_ms=wall_ms)
            for p, n in sorted(parts.items())
        ]
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(LINEAGE))
        lineage_dir = self.root / "_lineage"
        lineage_dir.mkdir(exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, lineage_dir / f".{name}")
        os.replace(lineage_dir / f".{name}", lineage_dir / name)

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE).parquet(str(self.root / "_lineage"))

    # -- stage tables -----------------------------------------------------

    def _manifest(self, stage: str) -> dict:
        try:
            return json.loads(self._manifest_path(stage).read_text())
        except (OSError, json.JSONDecodeError):
            return {}

    def is_complete(self, stage: str, input_fingerprint: str) -> bool:
        # a manifest is written only after its stage's data; one without a
        # schema predates stored schemas and is recomputed once
        manifest = self._manifest(stage)
        return (manifest.get("input_fingerprint") == input_fingerprint
                and "schema" in manifest)

    def all_complete(self, stages, input_fingerprint: str) -> bool:
        """True when every named stage would resume: a runner reads its
        inputs only when this is False, so a full resume launches no job."""
        return all(self.is_complete(s, input_fingerprint) for s in stages)

    def read_stage(self, stage: str) -> DataFrame:
        schema = StructType.fromJson(json.loads(self._manifest(stage)["schema"]))
        return self.spark.read.schema(schema).parquet(str(self.root / stage / "data"))

    def run_stage(
        self,
        stage: str,
        df_fn,
        input_fingerprint: str,
        input_rows: int | None = None,
    ) -> DataFrame:
        """Execute-or-resume one stage.

        df_fn: () -> DataFrame (lazy; only invoked when the stage must run).
        input_fingerprint: stable content id of the stage inputs (e.g. the
        source path + row count + config hash). A completed stage with the
        same fingerprint is read back, not recomputed — idempotent resume.
        """
        stage_dir = self.root / stage
        data_dir = stage_dir / "data"
        if self.is_complete(stage, input_fingerprint):
            return self.read_stage(stage)

        # stale partial output from a killed run -> discard (the write below
        # goes to a temp dir first, so a crash can never leave a half-written
        # `data` dir marked complete)
        tmp_dir = stage_dir / f"_tmp_{self.run_id}"
        if tmp_dir.exists():
            shutil.rmtree(tmp_dir)

        t0 = time.perf_counter()
        df = df_fn()
        df.write.mode("overwrite").parquet(str(tmp_dir))
        # committed part files only: a retried task's rows are counted once
        partition_counts: dict[int, int] = {}
        for f, n in footer_rows(tmp_dir).items():
            pid = int(f.name.split("-")[1])
            partition_counts[pid] = partition_counts.get(pid, 0) + n
        output_rows = sum(partition_counts.values())
        wall_ms = int((time.perf_counter() - t0) * 1000)

        if data_dir.exists():
            shutil.rmtree(data_dir)
        tmp_dir.rename(data_dir)
        self.write_lineage(
            stage, -1 if input_rows is None else input_rows, output_rows, 0,
            wall_ms, partition_counts,
        )
        self._manifest_path(stage).write_text(json.dumps(dict(
            stage=stage, run_id=self.run_id,
            input_fingerprint=input_fingerprint, output_rows=output_rows,
            wall_ms=wall_ms, schema=df.schema.json(), complete=True,
        )))
        return self.read_stage(stage)


def _input_signature(path: str) -> str:
    """Cheap content signal for the resume fingerprint: a hash of every
    file's (relative path, size, mtime_ns). Regenerating an input IN PLACE
    (same path, new content) must invalidate completed stages — aggregate
    count/bytes/whole-second-mtime signatures miss same-second in-place
    rewrites and equal-size content swaps between files."""
    import hashlib

    p = Path(path)
    files = sorted(p.rglob("*")) if p.is_dir() else ([p] if p.exists() else [])
    h = hashlib.blake2b(digest_size=12)
    for f in files:
        if f.is_file():
            st = f.stat()
            h.update(
                f"{f.relative_to(p) if p.is_dir() else f.name}"
                f"|{st.st_size}|{st.st_mtime_ns}\n".encode()
            )
    return h.hexdigest()


def _cfg_signature(cfg) -> str:
    """Stable content signature of a PipelineConfig for the resume
    fingerprint. The raw dataclass repr would embed object addresses for
    the broadcast fields (different every process -> a tokenizer- or
    model-carrying run could never resume), so those are replaced by
    CONTENT keys: a hash of the pickled model for the model broadcasts (a
    retrained model invalidates), a hash of the tokenizer vocab for the
    tokenizer broadcasts, and a constant for the dropped-rows accumulator
    (its identity does not affect results — note that on a resumed run the
    accumulator only receives counts from stages that actually re-execute;
    historical drop counts live in the _lineage table)."""
    import hashlib
    import pickle
    from dataclasses import fields

    parts = []
    for f in fields(cfg):
        v = getattr(cfg, f.name)
        if f.name in ("re_model_broadcast", "sc_model_broadcast"):
            # key on the model's pickled bytes: a retrained model must
            # invalidate, not silently resume
            try:
                if v is not None:
                    v = "model:" + hashlib.blake2b(
                        pickle.dumps(v.value), digest_size=8
                    ).hexdigest()
            except Exception:
                # unidentifiable broadcast: never resume against it
                v = f"opaque:{uuid.uuid4().hex}"
        elif f.name in ("re_tokenizer_broadcast", "sc_tokenizer_broadcast"):
            # hash vocab AND the added atomic-token list: two tokenizers
            # over the same vocab differ in encoding when one treats the
            # RE specials as atomic (added) and the other wordpiece-splits
            # them — they must not share a resume fingerprint
            try:
                if v is not None:
                    # getattr: a real HF tokenizer drop-in exposes .vocab
                    # but may not have .added — it must still content-key
                    # (falling to the opaque branch would silently disable
                    # resume for exactly the production tokenizer)
                    added = list(getattr(v.value, "added", ()))
                    h = hashlib.blake2b(
                        repr(
                            (sorted(v.value.vocab.items()), added)
                        ).encode(),
                        digest_size=8,
                    ).hexdigest()
                    v = f"vocab:{h}"
            except Exception:
                # unidentifiable tokenizer: never resume against it (same
                # fail-closed policy as the model branch — a constant here
                # would let one opaque tokenizer silently resume another's
                # stages)
                v = f"opaque:{uuid.uuid4().hex}"
        elif f.name == "re_dropped_acc":
            v = None if v is None else "acc"
        parts.append(f"{f.name}={v!r}")
    return ";".join(parts)


def run_pipeline_checkpointed(
    spark: SparkSession,
    pages_path: str,
    company_dict_path: str,
    checkpoint_root: str | Path,
    config=None,
    run_id: str | None = None,
) -> dict:
    """The resumable form of plans.pipeline.run_pipeline: the same
    KG_STAGES, each materialized through CheckpointManager.run_stage instead
    of persisted. Killing the job between stages and rerunning with the
    same checkpoint_root resumes after the last completed stage and yields
    the same final tables (pytest tests/test_resume.py).

    Returns the same frames as run_pipeline, read back from the stage
    tables, plus "checkpoint": the manager. Side frames (multi_org, gated,
    alias_edges) are present only when the stage that builds them ran
    rather than resumed; linked_surfaces is a stage table like any other.
    A run that resumes every stage launches no Spark job."""
    cfg = config or PipelineConfig()
    ckpt = CheckpointManager(spark, checkpoint_root, run_id=run_id)
    fp = (
        f"{pages_path}|{company_dict_path}|{_cfg_signature(cfg)}"
        f"|{_input_signature(pages_path)}|{_input_signature(company_dict_path)}"
    )

    # Read the inputs only when a stage must run: a read infers the parquet
    # schema with a Spark job, and kg_inputs collects the dictionary.
    s = {}
    if not ckpt.all_complete((name for name, *_ in KG_STAGES), fp):
        s = kg_inputs(spark.read.parquet(pages_path),
                      spark.read.parquet(company_dict_path), cfg)
    for name, build, source, _ in KG_STAGES:
        # the source stage's manifest count is this stage's input_rows
        # (-1 for the raw inputs, which have no manifest)
        s[name] = ckpt.run_stage(
            name, lambda b=build: b(s, cfg), fp,
            input_rows=ckpt._manifest(source).get("output_rows", -1),
        )
    return {**kg_outputs(s), "checkpoint": ckpt}
