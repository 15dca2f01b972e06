"""Kill-and-resume semantics (SURVEY.md §5 item 5): a job stopped after
stage k resumes without recomputing k stages and produces identical output."""

from __future__ import annotations

import shutil

import pytest

from jobs.rollup_job import run_pipeline
from pneuma_treatment_spark.io.tableio import TableIO
from pneuma_treatment_spark.plans.lineage import verify_partition_lineage

ARGS = dict(n_convs=40, seed=11, mega_turns=800)


@pytest.fixture()
def workdir(tmp_path):
    wd = str(tmp_path / "wd")
    yield wd
    shutil.rmtree(wd, ignore_errors=True)


def test_resume_skips_completed_stages(spark, workdir):
    # simulate a kill after the 'treated' stage
    s1 = run_pipeline(spark, workdir, **ARGS, stop_after="treated")
    assert set(s1["stages"]) == {"ingest", "filled", "treated"}
    assert not any(st["skipped"] for st in s1["stages"].values())

    # resume: completed stages skip, remaining stages run
    s2 = run_pipeline(spark, workdir, **ARGS)
    assert s2["stages"]["ingest"]["skipped"]
    assert s2["stages"]["filled"]["skipped"]
    assert s2["stages"]["treated"]["skipped"]
    assert not s2["stages"]["rollup_1d"]["skipped"]

    # resumed output == fresh output
    io = TableIO(spark, workdir)
    resumed = io.read("rollup_1d").toPandas()
    fresh_dir = workdir + "_fresh"
    run_pipeline(spark, fresh_dir, **ARGS)
    fresh = TableIO(spark, fresh_dir).read("rollup_1d").toPandas()
    cols = sorted(resumed.columns)
    a = resumed[cols].sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    b = fresh[cols].sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    shutil.rmtree(fresh_dir, ignore_errors=True)


def test_partition_lineage_manifest(spark, workdir):
    summary = run_pipeline(spark, workdir, **ARGS)
    io = TableIO(spark, workdir)
    assert len(summary["order"]) == 7
    for stage in summary["order"]:
        assert verify_partition_lineage(io, stage), stage


def test_first_branch_failure_wins(spark, workdir, monkeypatch):
    """When both overlapped branches fail, the failure that happened first
    is the one raised, and the surviving branch starts no further stage:
    the treatment branch fails at once, so the rollup branch stops at its
    next stage boundary and never writes chunks."""
    from pathlib import Path

    from jobs import rollup_job

    def treatment_fails(*a, **kw):
        raise RuntimeError("treatment branch failed")

    def rollup_fails(*a, **kw):
        raise RuntimeError("rollup branch failed")

    monkeypatch.setattr(rollup_job, "build_filled", treatment_fails)
    monkeypatch.setattr(rollup_job, "rollup_from_tier", rollup_fails)
    with pytest.raises(RuntimeError, match="treatment branch failed"):
        run_pipeline(spark, workdir, **ARGS)
    assert not (Path(workdir) / "_manifest" / "chunks.json").exists()


def test_config_change_invalidates_downstream(spark, workdir):
    run_pipeline(spark, workdir, **ARGS)
    s2 = run_pipeline(spark, workdir, **{**ARGS, "seed": 12})
    assert not any(st["skipped"] for st in s2["stages"].values())


def test_lineage_detects_tampered_table(spark, workdir):
    """The distributed recount must FAIL (cleanly, not crash) when a
    stage's data no longer matches its recorded per-partition counts, and
    when the counts table is absent (removed, or never written)."""
    import shutil as _sh
    from pathlib import Path

    run_pipeline(spark, workdir, **ARGS)
    io = TableIO(spark, workdir)
    assert verify_partition_lineage(io, "rollup_1d")
    # drop one day-partition directory from the table -> counts disagree
    table_dir = Path(io.path("rollup_1d"))
    victim = sorted(p for p in table_dir.iterdir() if p.name.startswith("p_day="))[0]
    _sh.rmtree(victim)
    assert verify_partition_lineage(io, "rollup_1d") is False
    # missing counts table -> clean False
    _sh.rmtree(Path(io.root) / "_manifest" / "ingest_partitions")
    assert verify_partition_lineage(io, "ingest") is False


def test_compact_collapses_small_files(spark, tmp_path):
    """TableIO.compact (Iceberg rewriteDataFiles analog) must collapse a
    fragmented table to few files per partition dir while preserving every
    row exactly and keeping the partition layout prunable."""
    import os

    from pyspark.sql import functions as F

    io = TableIO(spark, str(tmp_path / "ct"), n_buckets=2)
    e = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )
    io.write(e, "t")
    # fragment it: 6 appends of 4-way-split slices -> many files per dir
    frag = io.with_partition_cols(e.limit(2000))
    for _ in range(6):
        frag.repartition(4).write.mode("append").partitionBy(
            "p_day", "p_bucket"
        ).parquet(io.path("t"))

    def nfiles():
        return sum(
            1
            for _, _, fs in os.walk(io.path("t"))
            for f in fs
            if f.endswith(".parquet")
        )

    before_rows = io.read("t").count()
    before_files = nfiles()
    before = io.read("t").groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).toPandas().sort_values("conv_id").reset_index(drop=True)

    io.compact("t")
    after_files = nfiles()
    assert after_files < before_files / 2, (before_files, after_files)
    assert io.read("t").count() == before_rows
    after = io.read("t").groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).toPandas().sort_values("conv_id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)
    # partition dirs survive (pruning layout intact)
    assert any(p.startswith("p_day=") for p in os.listdir(io.path("t")))


def test_compact_guards_and_conf_restore(spark, tmp_path):
    """compact() must refuse the two layouts it would corrupt (streaming
    sink dirs and Hive-bucketed catalog tables), must NOT leave its
    temporary AQE advisory in the session, and must keep an unpartitioned
    table unpartitioned even when p_day rides as a data column."""
    import os

    import pytest
    from pyspark.sql import functions as F

    io = TableIO(spark, str(tmp_path / "cg"), n_buckets=2)
    e = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .limit(2000)
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )

    # streaming-sink refusal — for BOTH in-place rewrite ops
    io.write(e, "s")
    os.makedirs(os.path.join(io.path("s"), "_spark_metadata"))
    with pytest.raises(ValueError, match="streaming-sink"):
        io.compact("s")
    with pytest.raises(ValueError, match="streaming-sink"):
        io.delete_where("s", "TRUE")

    # bucketed-catalog refusal — for BOTH in-place rewrite ops
    io.write_bucketed(e.withColumn("turn_idx", F.lit(0)), "bt")
    with pytest.raises(ValueError, match="bucketed"):
        io.compact("bt")
    with pytest.raises(ValueError, match="bucketed"):
        io.delete_where("bt", "TRUE")

    # advisory restore: set -> restored; unset -> stays unset
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    io.write(e, "t")
    io.compact("t")
    assert spark.conf.get(key) == before

    # unpartitioned table carrying p_day as a DATA column stays flat
    flat = io.with_partition_cols(e)
    io.write(flat, "flat", partitioned=False)
    pre_cols = io.read("flat").columns
    io.compact("flat")
    assert io.read("flat").columns == pre_cols
    assert not any(
        d.startswith("p_day=") for d in os.listdir(io.path("flat"))
    )


def test_bad_shard_arguments_fail_before_any_spark_work(tmp_path):
    """An out-of-range shard index, and sharding an input_table (which
    only the synthesized input supports), raise ValueError before the
    pipeline touches Spark or the workdir — spark=None proves it."""
    wd = tmp_path / "wd"
    for kw in (
        dict(shard_count=0),
        dict(shard_index=2, shard_count=2),
        dict(shard_index=-1, shard_count=2),
        dict(shard_index=1, shard_count=2, input_table=str(tmp_path / "raw")),
    ):
        with pytest.raises(ValueError, match="shard"):
            run_pipeline(None, str(wd), **ARGS, **kw)
    assert not wd.exists()


def test_cli_rejects_bad_arguments_before_starting_spark(monkeypatch, tmp_path):
    """Every argument error of the job CLI exits with a usage error
    before the (slow) Spark session starts."""
    import sys

    from jobs import rollup_job
    from pneuma_treatment_spark import session

    def no_spark(*a, **kw):
        raise AssertionError("Spark started before argument validation")

    monkeypatch.setattr(session, "get_spark", no_spark)
    wd = str(tmp_path / "wd")
    for bad in (
        ["--delete-convs", "d", "--backfill-table", "b"],
        ["--scrub-deadletter", "dl"],
        ["--delete-convs", "d", "--shard-count", "2"],
        ["--backfill-table", "b", "--shard-count", "2"],
        ["--shard-count", "0"],
        ["--shard-index", "3", "--shard-count", "2"],
        ["--input-table", "raw", "--shard-count", "2"],
    ):
        monkeypatch.setattr(sys, "argv", ["rollup_job.py", "--workdir", wd, *bad])
        with pytest.raises(SystemExit) as exc:
            rollup_job.main()
        assert exc.value.code == 2, bad
