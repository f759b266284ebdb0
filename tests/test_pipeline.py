"""Pipeline tests: lineage, exact resume after simulated failure, skew
salting (SURVEY.md §5.2.4/§5.2.5)."""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from engine.pipeline import (JobConfig, SimulatedFailure, SnapshotMismatch,
                             run_extraction_job)
from engine.schema import LINEAGE_SCHEMA
from engine.synth import CANONICAL_QUERY, synth_transcripts


def _mk_input(spark, tmp_path, **synth_kwargs):
    path = str(tmp_path / "transcripts")
    synth_transcripts(spark, **synth_kwargs).write.parquet(path)
    return path


def _results_sorted(spark, out_path):
    return (spark.read.parquet(out_path)
            .select("conv_id", "turn_idx", "n_results", "status", "message")
            .orderBy("conv_id", "turn_idx"))


def test_full_run_and_lineage(spark, tmp_path):
    inp = _mk_input(spark, tmp_path, n_conversations=12, turns_per_conv=6)
    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lineage"),
                    query=CANONICAL_QUERY, n_buckets=8)
    metrics = run_extraction_job(spark, cfg)
    assert metrics["buckets_processed"] == 8

    out = spark.read.parquet(cfg.output_path)
    assert out.count() == 72
    lineage = spark.read.parquet(cfg.lineage_path)
    rows = lineage.collect()
    assert {r.bucket for r in rows} == set(range(8))
    assert sum(r.rows_in for r in rows) == 72
    assert sum(r.parse_failures for r in rows) == 0
    # the files carry LINEAGE_SCHEMA exactly, nullability included (a
    # parquet read reports every column nullable, so ask the footer)
    files = glob.glob(os.path.join(cfg.lineage_path, "*.parquet"))
    assert files
    for f in files:
        meta = pq.read_schema(f).metadata[
            b"org.apache.spark.sql.parquet.row.metadata"]
        assert StructType.fromJson(json.loads(meta)) == LINEAGE_SCHEMA
    # turn_seq window restored order
    assert out.filter(F.col("turn_seq") != F.col("turn_idx") + 1).count() == 0


def test_resume_after_failure_equals_single_run(spark, tmp_path):
    inp = _mk_input(spark, tmp_path, n_conversations=12, turns_per_conv=6)

    # reference single-shot run
    ref_cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "ref_out"),
                        lineage_path=str(tmp_path / "ref_lin"),
                        query=CANONICAL_QUERY, n_buckets=8)
    run_extraction_job(spark, ref_cfg)

    # crashing run: commit 1 group of 2 buckets, then die
    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lineage"),
                    query=CANONICAL_QUERY, n_buckets=8,
                    buckets_per_commit=2, fail_after_groups=1)
    with pytest.raises(SimulatedFailure):
        run_extraction_job(spark, cfg)

    partial = spark.read.parquet(cfg.lineage_path)
    assert partial.select("bucket").distinct().count() == 2

    # resume: same config, no failure injection
    cfg2 = JobConfig(input_path=inp, output_path=cfg.output_path,
                     lineage_path=cfg.lineage_path,
                     query=CANONICAL_QUERY, n_buckets=8, buckets_per_commit=2)
    metrics = run_extraction_job(spark, cfg2)
    assert metrics["resumed"] is True
    assert metrics["buckets_processed"] == 6

    a = _results_sorted(spark, cfg.output_path).collect()
    b = _results_sorted(spark, ref_cfg.output_path).collect()
    assert a == b

    # re-running once complete is a no-op
    metrics3 = run_extraction_job(spark, cfg2)
    assert metrics3["buckets_processed"] == 0


def test_crash_between_write_and_lineage_no_duplicates(spark, tmp_path):
    """The duplicate-risk window: output written, lineage not yet
    committed, crash.  The resume re-runs that bucket group; dynamic
    partition overwrite must replace (not append) its output."""
    inp = _mk_input(spark, tmp_path, n_conversations=12, turns_per_conv=6)

    ref_cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "ref_out"),
                        lineage_path=str(tmp_path / "ref_lin"),
                        query=CANONICAL_QUERY, n_buckets=8)
    run_extraction_job(spark, ref_cfg)

    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lineage"),
                    query=CANONICAL_QUERY, n_buckets=8,
                    buckets_per_commit=3, fail_before_lineage_group=2)
    with pytest.raises(SimulatedFailure):
        run_extraction_job(spark, cfg)
    # group 2's output exists on disk but its lineage does not
    assert spark.read.parquet(cfg.lineage_path) \
        .select("bucket").distinct().count() == 3

    cfg2 = JobConfig(input_path=inp, output_path=cfg.output_path,
                     lineage_path=cfg.lineage_path,
                     query=CANONICAL_QUERY, n_buckets=8, buckets_per_commit=3)
    run_extraction_job(spark, cfg2)

    a = _results_sorted(spark, cfg.output_path).collect()
    b = _results_sorted(spark, ref_cfg.output_path).collect()
    assert a == b  # no duplicates, no gaps


def test_role_filter_pushed_to_scan(spark, tmp_path):
    """The role predicate must reach the parquet scan as a pushed
    filter and prune rows before any compute."""
    inp = _mk_input(spark, tmp_path, n_conversations=9, turns_per_conv=6)
    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lineage"),
                    query=CANONICAL_QUERY, n_buckets=4,
                    roles=["assistant", "tool"])
    run_extraction_job(spark, cfg)
    out = spark.read.parquet(cfg.output_path)
    assert out.count() == 36  # user turns (1/3) pruned
    assert out.filter(F.col("role") == "user").count() == 0

    # plan evidence: pushed filter on the scan
    df = spark.read.parquet(inp).select("conv_id", "role", "text") \
        .filter(F.col("role").isin(["assistant", "tool"]))
    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(),
                                            "formatted")
    assert "PushedFilters: [In(role" in plan


def test_resume_against_changed_input_refused(spark, tmp_path):
    """A resume must not silently mix input snapshots: modifying the
    input between runs trips the lineage fingerprint check."""
    inp = _mk_input(spark, tmp_path, n_conversations=8, turns_per_conv=6)
    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lineage"),
                    query=CANONICAL_QUERY, n_buckets=4,
                    buckets_per_commit=2, fail_after_groups=1)
    with pytest.raises(SimulatedFailure):
        run_extraction_job(spark, cfg)

    # input grows between the crash and the resume
    synth_transcripts(spark, n_conversations=3, turns_per_conv=6,
                      shuffled=False).write.mode("append").parquet(inp)

    cfg2 = JobConfig(input_path=inp, output_path=cfg.output_path,
                     lineage_path=cfg.lineage_path,
                     query=CANONICAL_QUERY, n_buckets=4, buckets_per_commit=2)
    with pytest.raises(SnapshotMismatch):
        run_extraction_job(spark, cfg2)

    # explicit override still allowed (operator takes responsibility)
    cfg3 = JobConfig(input_path=inp, output_path=cfg.output_path,
                     lineage_path=cfg.lineage_path,
                     query=CANONICAL_QUERY, n_buckets=4,
                     buckets_per_commit=2, input_snapshot="forced")
    with pytest.raises(SnapshotMismatch):
        # still refuses: lineage holds the ORIGINAL fingerprint
        run_extraction_job(spark, cfg3)


def test_matcher_on_job_configuration(spark, tmp_path):
    """matcher='token' is a supported JobConfig mode: the job runs the
    semantic tiers, and its resume identity differs from matcher='none'
    so the two modes' outputs can never silently mix."""
    from engine.pipeline import _config_fingerprint

    inp = _mk_input(spark, tmp_path, n_conversations=6, turns_per_conv=6)
    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lineage"),
                    query=CANONICAL_QUERY, n_buckets=4, matcher="token")
    metrics = run_extraction_job(spark, cfg)
    assert metrics["buckets_processed"] == 4
    out = spark.read.parquet(cfg.output_path)
    assert out.count() == 36
    # same rows extracted as matcher-off for this corpus (headers match
    # exactly, so the semantic tier never overrides) — the mode is about
    # CAPABILITY, proven by the fingerprint split + semantic goldens
    assert out.filter(F.col("status") == "parse_error").count() == 0
    off = JobConfig(input_path=inp, output_path="x", lineage_path="x",
                    query=CANONICAL_QUERY, n_buckets=4)
    assert _config_fingerprint(cfg) != _config_fingerprint(off)

    # resuming the matcher-on job against its own lineage is a no-op
    again = run_extraction_job(spark, cfg)
    assert again["resumed"] is True and again["buckets_processed"] == 0

    # ...but a matcher-off resume against matcher-on lineage is refused
    mixed = JobConfig(input_path=inp, output_path=cfg.output_path,
                      lineage_path=cfg.lineage_path,
                      query=CANONICAL_QUERY, n_buckets=4)
    with pytest.raises(SnapshotMismatch):
        run_extraction_job(spark, mixed)


def test_semantic_goldens_pinned():
    """The matcher-on configuration has its own committed golden set;
    it must differ from the deterministic snapshot on cases where the
    semantic tiers fire (otherwise the mode is vacuous)."""
    import json

    from scripts.gen_goldens import (GOLDENS_PATH, GOLDENS_SEMANTIC_PATH,
                                     build_semantic)
    with open(GOLDENS_SEMANTIC_PATH) as f:
        expected = json.load(f)
    assert build_semantic() == expected
    with open(GOLDENS_PATH) as f:
        base = json.load(f)
    assert any(expected[k] != base[k] for k in base)


def test_skew_salting_bounds_task_input(spark, tmp_path):
    """One conversation with 100× the turns must not serialize into a
    single task: with salt_block B its turns spread over ≥ turns/B
    partitions."""
    df = synth_transcripts(spark, n_conversations=40, turns_per_conv=10,
                           skew_factor=100)  # conv 0 has 1000 turns
    salt_block = 64
    salted = df.repartition(
        32, "conv_id", (F.col("turn_idx") / F.lit(salt_block)).cast("int"))
    per_task = (salted.withColumn("pid", F.spark_partition_id())
                .filter(F.col("conv_id") == "conv_00000000")
                .groupBy("pid").count().collect())
    assert len(per_task) >= 1000 // salt_block // 2  # spread over many tasks
    assert max(r["count"] for r in per_task) <= 3 * salt_block


def test_unsalted_skew_serializes_one_task(spark):
    """Negative control: without the salt key the skewed conversation
    lands in exactly one partition."""
    df = synth_transcripts(spark, n_conversations=40, turns_per_conv=10,
                           skew_factor=100)
    plain = df.repartition(32, "conv_id")
    per_task = (plain.withColumn("pid", F.spark_partition_id())
                .filter(F.col("conv_id") == "conv_00000000")
                .groupBy("pid").count().collect())
    assert len(per_task) == 1


def test_single_query_pipeline_plan_is_one_scan_one_kernel(spark, tmp_path):
    """The pipeline's single-query call (jvm_prose_fast_path=False) is
    ONE scan feeding ONE MapInPandas with no Union — one input scan per
    commit group; a query that cannot extract never reaches Python."""
    from engine.extract import extract_turns

    df = spark.read.parquet(_mk_input(spark, tmp_path, n_conversations=6,
                                      turns_per_conv=6))

    def plan(query):
        return extract_turns(df, query, salt_partitions=8, salt_block=256,
                             jvm_prose_fast_path=False) \
            ._jdf.queryExecution().executedPlan().toString()

    good = plan(CANONICAL_QUERY)
    assert good.count("MapInPandas") == 1
    assert good.count("FileScan parquet") == 1
    assert "Union" not in good
    for bad in ("books", "give me"):
        bad_plan = plan(bad)
        assert "MapInPandas" not in bad_plan
        assert bad_plan.count("FileScan parquet") == 1
