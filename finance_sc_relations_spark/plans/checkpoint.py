"""Per-stage checkpointing, lineage and resume.

The Spark form of the reference's job-state machinery: S3 JSON meta files
holding inputs/success/failed/blocked file-ID sets with a freeze-mutex
(src/glue/glue_etl.py:213-374) and per-document stage counters in a logs
table (glue_etl.py:620-647). Here:

- every stage's output is written to a stage table (parquet dir; Iceberg
  when a catalog is configured — see sources/catalog.py), partitioned by
  a stable bucket of the row key;
- a `_lineage` table records (run_id, stage, partition_id, input_rows,
  output_rows, dropped_invalid, wall_ms) per completed stage — the
  metrics/lineage row the north rule requires;
- resume = if the stage table exists and `_lineage` marks the stage
  complete for this input fingerprint, read it back instead of recomputing
  (the anti-join analog of `set(requested) - set(existed)`,
  glue_etl.py:652-660). Snapshot isolation comes from writing to a temp
  suffix and renaming — no freeze-mutex needed.

Granularity note: the reference claims work in blocks of FILES
(block_job_files, glue_etl.py:313-374); our unit is the STAGE x input-
fingerprint. Finer-grained (per-partition) resume falls out of Iceberg
dynamic-partition overwrite when the catalog is enabled: re-running a
stage only replaces partitions whose inputs changed.
"""

from __future__ import annotations

import json
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import KG_STAGES, PipelineConfig, kg_inputs, kg_outputs


class CheckpointManager:
    """Directory-backed stage checkpointing with lineage."""

    def __init__(self, spark: SparkSession, root: str | Path, run_id: str | None = None):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.run_id = run_id or uuid.uuid4().hex[:12]

    # -- lineage ----------------------------------------------------------

    def _lineage_dir(self) -> Path:
        return self.root / "_lineage"

    def _manifest_path(self, stage: str) -> Path:
        return self.root / stage / "_MANIFEST.json"

    def write_lineage(self, stage: str, input_rows: int, output_rows: int,
                      dropped_invalid: int, wall_ms: int,
                      partition_counts: dict[int, int] | None = None) -> None:
        """One lineage row per output partition. partition_counts maps
        partition_id -> that partition's actual output row count (the
        per-partition metrics the north rule requires); input_rows/wall_ms
        are stage-level and repeated on each row for self-contained reads."""
        parts = partition_counts or {0: output_rows}
        rows = [
            (self.run_id, stage, int(p), int(input_rows), int(n),
             int(dropped_invalid), int(wall_ms))
            for p, n in sorted(parts.items())
        ]
        df = self.spark.createDataFrame(
            rows,
            "run_id string, stage string, partition_id int, input_rows long, "
            "output_rows long, dropped_invalid long, wall_ms long",
        )
        df.write.mode("append").parquet(str(self._lineage_dir()))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(str(self._lineage_dir()))

    # -- stage tables -----------------------------------------------------

    def is_complete(self, stage: str, input_fingerprint: str) -> bool:
        mp = self._manifest_path(stage)
        if not mp.exists():
            return False
        try:
            manifest = json.loads(mp.read_text())
        except (OSError, json.JSONDecodeError):
            return False
        return manifest.get("input_fingerprint") == input_fingerprint and manifest.get(
            "complete", False
        )

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(str(self.root / stage / "data"))

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
        out = self.spark.read.parquet(str(tmp_dir))
        # real per-partition output counts (single scan, map-side combine)
        pc_rows = (
            out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        )
        partition_counts = {int(r["pid"]): int(r["count"]) for r in pc_rows}
        output_rows = sum(partition_counts.values())
        wall_ms = int((time.perf_counter() - t0) * 1000)

        if data_dir.exists():
            shutil.rmtree(data_dir)
        tmp_dir.rename(data_dir)
        self.write_lineage(
            stage,
            input_rows if input_rows is not None else -1,
            output_rows,
            0,
            wall_ms,
            partition_counts,
        )
        self._manifest_path(stage).write_text(
            json.dumps(
                {
                    "stage": stage,
                    "run_id": self.run_id,
                    "input_fingerprint": input_fingerprint,
                    "output_rows": output_rows,
                    "wall_ms": wall_ms,
                    "complete": True,
                }
            )
        )
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
    CONTENT keys: the model checkpoint id PLUS payload hash for
    re_model_broadcast (a retrained model under the same id invalidates), a hash
    of the tokenizer vocab for re_tokenizer_broadcast, and a constant for
    the dropped-rows accumulator (its identity does not affect results —
    note that on a resumed run the accumulator only receives counts from
    stages that actually re-execute; historical drop counts live in the
    _lineage table)."""
    import hashlib
    from dataclasses import fields

    parts = []
    for f in fields(cfg):
        v = getattr(cfg, f.name)
        if f.name in ("re_model_broadcast", "sc_model_broadcast"):
            # key on id AND payload bytes: a retrained model broadcast
            # under the same id must invalidate, not silently resume
            try:
                if v is not None:
                    mid, payload = v.value
                    ph = hashlib.blake2b(payload, digest_size=8).hexdigest()
                    v = f"model:{mid}:{ph}"
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
        elif f.name == "re_model_path":
            # a retrained checkpoint REWRITTEN TO THE SAME PATH must
            # invalidate downstream stages, exactly like the broadcast
            # branch above — fold the file content signature
            # (relpath|size|mtime_ns, via _input_signature) in with the
            # path string, never the path alone
            if v is not None:
                v = f"path:{v}:{_input_signature(v)}"
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
    linked_surfaces, alias_edges) are present only when the stage that
    builds them ran rather than resumed."""
    cfg = config or PipelineConfig()
    ckpt = CheckpointManager(spark, checkpoint_root, run_id=run_id)
    fp = (
        f"{pages_path}|{company_dict_path}|{_cfg_signature(cfg)}"
        f"|{_input_signature(pages_path)}|{_input_signature(company_dict_path)}"
    )

    def _rows(stage: str) -> int:
        """Completed stage's output_rows from its manifest (feeds the next
        stage's input_rows lineage column); -1 when unknown."""
        mp = ckpt._manifest_path(stage)
        if mp.exists():
            try:
                return int(json.loads(mp.read_text()).get("output_rows", -1))
            except (OSError, json.JSONDecodeError, ValueError):
                return -1
        return -1

    s = kg_inputs(
        spark.read.parquet(pages_path), spark.read.parquet(company_dict_path),
        cfg,
    )
    for name, build, source, _ in KG_STAGES:
        s[name] = ckpt.run_stage(
            name, lambda b=build: b(s, cfg), fp, input_rows=_rows(source)
        )
    return {**kg_outputs(s), "checkpoint": ckpt}
