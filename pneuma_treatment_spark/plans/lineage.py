"""Checkpointed, resumable stage execution with per-partition lineage.

north_rule requirement: "every stage checkpoints per-partition lineage and
metrics so the job resumes mid-rollup". The reference gets restartability
implicitly from one-CSV-per-stage (SURVEY.md §3 — each numbered script is a
de-facto checkpoint); here it is explicit and content-addressed:

* each stage writes its output table via TableIO (idempotent partition
  overwrite), a per-partition row-count TABLE (written distributed — the
  counts never materialize on the driver), and a manifest JSON: input
  signature (config + upstream stage signatures), row count, partition
  count, wall-clock, status;
* on re-run, a stage whose signature matches a COMPLETE manifest is skipped
  and its table is read back — so a job killed after stage k resumes at
  stage k+1 and produces byte-identical output (tests/test_resume.py);
* signatures chain (stage sig includes dep sigs), so changing an upstream
  config invalidates exactly the downstream stages.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame

from pneuma_treatment_spark.io.tableio import TableIO


@dataclass
class StageResult:
    name: str
    signature: str
    rows: int
    skipped: bool
    wall_sec: float
    n_partitions: int = 0


class PipelineRunner:
    def __init__(self, io: TableIO, config: dict | None = None):
        self.io = io
        self.config = config or {}
        self.manifest_dir = Path(io.root) / "_manifest"
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        self._sigs: dict[str, str] = {}
        self.results: dict[str, StageResult] = {}

    # -- signatures ---------------------------------------------------------
    def _signature(self, name: str, deps: list[str], extra: dict | None) -> str:
        payload = {
            "stage": name,
            "config": self.config,
            "extra": extra or {},
            "deps": {d: self._sigs[d] for d in deps},
        }
        return hashlib.sha256(json.dumps(payload, sort_keys=True, default=str).encode()).hexdigest()[:16]

    def _manifest_path(self, name: str) -> Path:
        return self.manifest_dir / f"{name}.json"

    def _partitions_path(self, name: str) -> str:
        return str(self.manifest_dir / f"{name}_partitions")

    # -- execution ----------------------------------------------------------
    def run_stage(
        self,
        name: str,
        build,
        deps: list[str] | None = None,
        extra_sig: dict | None = None,
        partitioned: bool = True,
        ts_col: str = "ts",
        key_col: str = "conv_id",
        bucketed: bool = True,
        partition_cols: list[str] | None = None,
        pre_clustered: bool = False,
    ) -> DataFrame:
        """Run ``build(io) -> DataFrame`` or skip if already complete.

        Returns the stage output read back from its table (so downstream
        stages never re-execute upstream lineage — each stage boundary is a
        scan, exactly like the reference's CSV boundaries but partitioned).
        """
        deps = deps or []
        sig = self._signature(name, deps, extra_sig)
        self._sigs[name] = sig
        mpath = self._manifest_path(name)

        if mpath.exists():
            m = json.loads(mpath.read_text())
            if m.get("status") == "COMPLETE" and m.get("signature") == sig:
                self.results[name] = StageResult(
                    name, sig, m["rows"], True, 0.0, m.get("n_partitions", 0)
                )
                return self.io.read(name)

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        df = build(self.io)
        # Row count rides the write action itself via an Observation — no
        # second pass over the table (the Iceberg-snapshot-metadata analog).
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        self.io.write(
            df, name, partitioned=partitioned, ts_col=ts_col, key_col=key_col,
            bucketed=bucketed, partition_cols=partition_cols,
            pre_clustered=pre_clustered,
        )
        rows = int(obs.get["rows"])
        out = self.io.read(name)
        n_parts = 0
        if partitioned and "p_day" in out.columns:
            # Per-partition lineage counts are a TABLE, not driver state: at
            # 10^12 turns x years of days a per-stage python dict of counts
            # is a driver-side list per write. The counts DataFrame writes
            # straight to parquet; only the O(1) partition COUNT crosses to
            # the driver (for the summary), never the rows.
            pc = out.groupBy("p_day").agg(F.count(F.lit(1)).alias("rows"))
            pc.repartition(1).write.mode("overwrite").parquet(
                self._partitions_path(name)
            )
            n_parts = self.io.spark.read.parquet(self._partitions_path(name)).count()
        wall = time.perf_counter() - t0
        mpath.write_text(
            json.dumps(
                {
                    "status": "COMPLETE",
                    "stage": name,
                    "signature": sig,
                    "rows": rows,
                    "n_partitions": n_parts,
                    "wall_sec": round(wall, 3),
                    "finished_at": time.time(),
                    # the raw config, not just its signature hash: ops
                    # tooling that recomputes this stage (plans/backfill.py)
                    # must reproduce the recorded parameters exactly, and a
                    # hash can be compared but not adopted
                    "config": self.config,
                },
                indent=2,
                default=str,
            )
        )
        self.results[name] = StageResult(name, sig, rows, False, wall, n_parts)
        return out

    def total_rows(self, name: str) -> int:
        return self.results[name].rows


def partition_counts(df: DataFrame) -> DataFrame:
    """(p_day, rows) lineage counts as a DataFrame — never a driver dict."""
    from pyspark.sql import functions as F

    return df.groupBy("p_day").agg(F.count(F.lit(1)).alias("rows"))


def verify_partition_lineage(io: TableIO, name: str) -> bool:
    """Recount a stage's partitions and compare to its recorded lineage
    (integrity check used by tests and ops tooling). The comparison is a
    distributed full-outer join — a partition missing from either side, or
    disagreeing on its count, fails it; only O(1) scalars (mismatch count,
    total) ever reach the driver."""
    from pyspark.sql import functions as F

    m = json.loads((Path(io.root) / "_manifest" / f"{name}.json").read_text())
    ppath = Path(io.root) / "_manifest" / f"{name}_partitions"
    if not ppath.exists():
        # a stage whose counts table was never written (or was removed) has
        # no lineage to verify — that is a failed integrity check, not a crash
        return False
    stored = io.spark.read.parquet(str(ppath))
    actual = partition_counts(io.read(name))
    j = stored.withColumnRenamed("rows", "m_rows").join(actual, "p_day", "full_outer")
    mismatches = j.where(
        F.col("m_rows").isNull()
        | F.col("rows").isNull()
        | (F.col("m_rows") != F.col("rows"))
    ).count()
    total = stored.agg(F.sum("rows").alias("t")).first()["t"] or 0
    return mismatches == 0 and int(total) == m["rows"]
