"""Per-stage checkpointing with per-partition lineage + exact resume.

north_rule requirement: "every stage checkpoints per-partition lineage +
row counts to enable exact resume at 1e12-document scale". Design:

- work is keyed by an explicit UNIT id column (at 100 TB: an input file,
  a partition range, a WARC segment). Units are the resume granularity —
  idempotent and order-free, unlike task ids;
- every ``run_stage`` invocation writes under a fresh ATTEMPT id: data
  rows carry ``_attempt`` and a unit's manifest row records which
  attempt committed it. Readers join data to the manifest on
  (unit_id, _attempt), so rows from an attempt that crashed between the
  data append and the manifest commit are never visible — exact resume
  without any delete/compaction step (round 1 appended unconditionally,
  so a crash-then-resume double-counted the unit: ADVICE.md). Dead
  attempt files are garbage, not corruption; GC them offline;
- the manifest (one parquet per batch of completed units) records
  (unit_id, row_count, content_hash, _attempt) where content_hash is an
  order-insensitive xor aggregate of row hashes — cheap to recompute
  for audits (``verify``).

The driver-side API is deliberately tiny: ``run_stage`` is the whole
lifecycle (plan -> skip done -> compute -> append -> manifest).
"""

from __future__ import annotations

import os
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F


def _is_missing_path(exc: AnalysisException) -> bool:
    text = str(exc)
    return "PATH_NOT_FOUND" in text or "Path does not exist" in text


class StageCheckpoint:
    def __init__(self, spark: SparkSession, root: str, stage: str):
        self.spark = spark
        self.stage = stage
        self.data_path = os.path.join(root, stage, "data")
        self.manifest_path = os.path.join(root, stage, "manifest")

    # ------------------------------------------------------------ state

    def _committed(self) -> DataFrame:
        """(unit_id, _attempt) pairs the manifest has committed. Only a
        genuinely absent manifest reads as empty — any other read error
        must surface, not silently trigger recompute+duplicate."""
        try:
            return self.spark.read.parquet(self.manifest_path).select(
                "unit_id", "_attempt"
            )
        except AnalysisException as exc:
            if _is_missing_path(exc):
                return self.spark.createDataFrame(
                    [], "unit_id bigint, _attempt string"
                )
            raise

    def completed_units(self) -> DataFrame:
        return self._committed().select("unit_id")

    def manifest(self) -> DataFrame:
        return self.spark.read.parquet(self.manifest_path)

    def output(self) -> DataFrame:
        """Only rows whose (unit, attempt) the manifest committed — the
        manifest is the commit log; orphan rows from crashed attempts
        never qualify."""
        data = self.spark.read.parquet(self.data_path)
        return data.join(
            F.broadcast(self._committed()), ["unit_id", "_attempt"], "semi"
        ).drop("_attempt")

    # ------------------------------------------------------------- run

    def run_stage(self, units: DataFrame, compute) -> DataFrame:
        """units: DataFrame with unit_id listing ALL work units.
        compute: fn(pending_units_df) -> result DataFrame that carries
        unit_id on every row. Returns the stage's full output."""
        pending = units.join(
            F.broadcast(self.completed_units()), "unit_id", "left_anti"
        )
        n_pending = pending.count()
        if n_pending:
            attempt = uuid.uuid4().hex
            result = compute(pending).withColumn("_attempt", F.lit(attempt))
            result.write.mode("append").parquet(self.data_path)

            written = (
                self.spark.read.parquet(self.data_path)
                .where(F.col("_attempt") == attempt)
                .join(
                    F.broadcast(pending.select("unit_id").distinct()),
                    "unit_id",
                    "semi",
                )
            )
            hash_cols = sorted(c for c in written.columns if c != "_attempt")
            written_stats = written.groupBy("unit_id").agg(
                F.count("*").alias("row_count"),
                # order-insensitive, overflow-free content hash;
                # canonical column order: joins reorder columns, and
                # xxhash64 over a struct is order-sensitive
                F.bit_xor(F.xxhash64(F.struct(*hash_cols))).alias(
                    "content_hash"
                ),
            )
            # manifest from PENDING unit ids, not written rows: a unit
            # whose compute() legitimately yields zero rows must still
            # commit (row_count 0, null hash) or it is recomputed on
            # every resume forever (ADVICE.md round 2)
            lineage = (
                pending.select("unit_id")
                .distinct()
                .join(written_stats, "unit_id", "left")
                .select(
                    "unit_id",
                    F.coalesce(F.col("row_count"), F.lit(0)).alias("row_count"),
                    "content_hash",
                )
                .withColumn("stage", F.lit(self.stage))
                .withColumn("_attempt", F.lit(attempt))
            )
            lineage.write.mode("append").parquet(self.manifest_path)
        return self.output()

    # ----------------------------------------------------------- audit

    def verify(self) -> DataFrame:
        """Recompute per-unit row counts/hashes of the COMMITTED output
        against the manifest — the audit half of the lineage contract.
        Returns mismatching units (empty = consistent)."""
        data = self.spark.read.parquet(self.data_path)
        visible = data.join(
            F.broadcast(self._committed()), ["unit_id", "_attempt"], "semi"
        )
        hash_cols = sorted(c for c in visible.columns if c != "_attempt")
        actual = visible.groupBy("unit_id").agg(
            F.count("*").alias("actual_rows"),
            F.bit_xor(F.xxhash64(F.struct(*hash_cols))).alias("actual_hash"),
        )
        recorded = self.manifest().select("unit_id", "row_count", "content_hash")
        return (
            recorded.join(actual, "unit_id", "left")
            .where(
                # zero-row units commit with row_count 0 / null hash and
                # have no data rows, so actual_rows null is consistent
                # exactly when the recorded count is 0
                (F.coalesce(F.col("actual_rows"), F.lit(0)) != F.col("row_count"))
                | (
                    (F.col("row_count") > 0)
                    & ~F.col("actual_hash").eqNullSafe(F.col("content_hash"))
                )
            )
        )
