"""Checkpoint/lineage resume (FIXTURES F4 resume case): kill mid-stage,
re-run, identical output; completed partitions skipped via lineage
anti-join (orchestrator.py:484-536, 589-597 semantics)."""

import glob
import os
import tempfile

import pandas as pd
import pytest

from kartograph_spark.config import PipelineConfig
from kartograph_spark.graph import TableStore
from kartograph_spark.lineage import (
    LINEAGE_DIR,
    completed_partitions,
    read_lineage,
    record_completed,
)
from kartograph_spark.pipeline import run_mentions_stage


def _mentions_pdf(spark, out):
    return (
        spark.read.parquet(f"{out}/mentions")
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "kind_rank", "match_idx"])
        .reset_index(drop=True)
        .drop(columns=["bucket"], errors="ignore")
    )


def test_resume_skips_completed_and_is_idempotent(spark, transcripts_df):
    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-resume-")
    store = TableStore(spark, out)

    run_mentions_stage(spark, transcripts_df, store, cfg)
    baseline = _mentions_pdf(spark, out)
    lin1 = read_lineage(spark, out).toPandas()
    assert set(lin1["partition_id"]) == set(range(8))

    # simulate a mid-stage kill: forget completion of 3 buckets
    lost = {1, 4, 6}
    survivors = lin1[~lin1["partition_id"].isin(lost)]
    for f in glob.glob(os.path.join(out, LINEAGE_DIR, "*.parquet")):
        os.remove(f)
    record_completed(
        out,
        "mentions",
        cfg.config_hash,
        dict(zip(survivors["partition_id"], survivors["rows"])),
    )
    assert completed_partitions(spark, out, "mentions", cfg.config_hash) == (
        set(range(8)) - lost
    )
    lin_mid = read_lineage(spark, out).toPandas()

    # resume: only the lost buckets re-run; final output identical
    run_mentions_stage(spark, transcripts_df, store, cfg)
    resumed = _mentions_pdf(spark, out)
    pd.testing.assert_frame_equal(baseline, resumed)
    lin2 = read_lineage(spark, out).toPandas()
    redone = set(
        lin2[lin2["finished_at"] > lin_mid["finished_at"].max()]["partition_id"]
    )
    assert redone == lost


def test_config_hash_invalidation(spark, transcripts_df):
    cfg_a = PipelineConfig(n_buckets=8, rules_version="1")
    cfg_b = PipelineConfig(n_buckets=8, rules_version="2")
    assert cfg_a.config_hash != cfg_b.config_hash
    out = tempfile.mkdtemp(prefix="kg-cfg-")
    store = TableStore(spark, out)
    run_mentions_stage(spark, transcripts_df, store, cfg_a)
    # a different config hash sees zero completed partitions
    assert completed_partitions(spark, out, "mentions", cfg_b.config_hash) == set()
    assert completed_partitions(spark, out, "mentions", cfg_a.config_hash) == set(
        range(8)
    )


def test_full_pipeline_resume_mid_triples(spark, transcripts_df, alias_df):
    """Kill after the canonical stage (triples/materialize lineage rows
    lost, outputs wiped): the re-run skips mentions AND canonical — no
    new lineage rows, no extraction re-run — recomputes only the lost
    stages, and converges to the identical triple set."""
    import shutil
    import tempfile

    from kartograph_spark.pipeline import run_pipeline

    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-full-resume-")
    m1 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    baseline = (
        spark.read.parquet(f"{out}/triples")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    lin1 = read_lineage(spark, out).toPandas()
    assert {"mentions", "canonical", "triples", "materialize"} <= set(lin1["stage"])

    # simulate the kill: drop the triples+materialize lineage rows and
    # their outputs; mentions + canonical survive
    survivors = lin1[~lin1["stage"].isin(["triples", "materialize"])]
    for f in glob.glob(os.path.join(out, LINEAGE_DIR, "*.parquet")):
        os.remove(f)
    for _, r in survivors.iterrows():
        record_completed(
            out, r["stage"], r["config_hash"], {int(r["partition_id"]): int(r["rows"])}
        )
    for t in ("triples", "broken_refs", "graph_nodes", "graph_edges"):
        shutil.rmtree(os.path.join(out, t), ignore_errors=True)
    lin_mid = read_lineage(spark, out).toPandas()

    m2 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    resumed = (
        spark.read.parquet(f"{out}/triples")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        baseline.astype({"turn_idx": "int64"}), resumed.astype({"turn_idx": "int64"})
    )
    # the completed stages were NOT re-run: no lineage rows newer than
    # the kill for mentions/canonical; triples/materialize re-recorded
    lin2 = read_lineage(spark, out).toPandas()
    new_rows = lin2[lin2["finished_at"] > lin_mid["finished_at"].max()]
    assert set(new_rows["stage"]) == {"triples", "materialize"}
    assert m2["triples"] == m1["triples"]
    assert m2["review_flags"] == m1["review_flags"]


def test_full_pipeline_rerun_skips_everything(spark, transcripts_df, alias_df):
    """A clean re-run against a completed out dir recomputes no stage —
    only the metrics rollup — and reports identical counts."""
    import tempfile

    from kartograph_spark.pipeline import run_pipeline

    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-rerun-")
    m1 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    lin1 = read_lineage(spark, out).toPandas()
    m2 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    lin2 = read_lineage(spark, out).toPandas()
    assert len(lin1) == len(lin2)  # zero new lineage rows
    for k in ("triples", "entities", "edges", "mentions", "review_flags"):
        assert m1[k] == m2[k], k


def _tiny_corpus(spark):
    """(transcripts, empty alias dictionary): six two-turn conversations."""
    tr = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [f"c{i}" for i in range(6) for _ in (0, 1)],
                "turn_idx": pd.array([0, 1] * 6, dtype="int32"),
                "role": ["user", "assistant"] * 6,
                "text": [
                    "Service <urn:Application:pay> uses Prometheus.",
                    "It is running on AWS and calls Vault.",
                ]
                * 6,
                "tool": [None, "query_dgraph"] * 6,
                "ts": pd.to_datetime(["2026-01-01 00:00"] * 12).astype(
                    "datetime64[us]"
                ),
            }
        )
    )
    al = spark.createDataFrame(
        [],
        "alias_norm string, canonical_urn string, entity_type string,"
        " canonical_name string",
    )
    return tr, al


def test_config_round_trip_recomputes(spark):
    """run A, run B, run A again against ONE out dir: B overwrites the
    stage tables, so A's surviving lineage rows must NOT serve B's data —
    the stage markers force recompute and A's second output equals A's
    first (incl. a bucket-count change, which also exercises the full-
    overwrite path that clears B's extra bucket partitions)."""
    from kartograph_spark.pipeline import run_pipeline

    tr, al = _tiny_corpus(spark)
    out = tempfile.mkdtemp(prefix="kg-roundtrip-")

    cfg_a = PipelineConfig(n_buckets=4)
    cfg_b = PipelineConfig(n_buckets=8)
    run_pipeline(spark, tr, al, out, cfg_a)
    a1 = (
        spark.read.parquet(f"{out}/triples")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    # B: different config writes the same tables (same corpus here — the
    # point is the gating, not the content delta)
    run_pipeline(spark, tr, al, out, cfg_b)
    # A again: lineage rows for A still exist, but the markers say the
    # tables belong to B -> every stage must recompute, not resume
    m3 = run_pipeline(spark, tr, al, out, cfg_a)
    a2 = (
        spark.read.parquet(f"{out}/triples")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a1.astype({"turn_idx": "int64"}), a2.astype({"turn_idx": "int64"})
    )
    assert m3["config_hash"] == cfg_a.config_hash
    # the mentions table must contain ONLY cfg_a's 4 buckets (full
    # overwrite cleared B's 8-bucket layout)
    mb = spark.read.parquet(f"{out}/mentions").select("bucket").distinct()
    assert {r["bucket"] for r in mb.collect()} <= set(range(4))


class _Killed(Exception):
    pass


@pytest.fixture(scope="module")
def four_bucket_mentions(spark, transcripts_df):
    out = tempfile.mkdtemp(prefix="kg-kill-ref-")
    run_mentions_stage(spark, transcripts_df, TableStore(spark, out), PipelineConfig(n_buckets=4))
    return _mentions_pdf(spark, out)


@pytest.mark.parametrize("prior_run", [False, True], ids=["fresh", "prior"])
@pytest.mark.parametrize("boundary", ["record_completed", "write_stage_marker"])
def test_mentions_kill_at_write_boundary_then_other_bucket_count(
    spark, transcripts_df, four_bucket_mentions, monkeypatch, boundary, prior_run
):
    """A mentions run killed after its table write (record_completed
    fails) or between record_completed and write_stage_marker must not
    leak its buckets into a later run under another bucket count — in a
    fresh out dir, and in one that held a completed run of the later
    config (whose lineage rows and marker must not vouch for the table
    the killed run replaced)."""
    from kartograph_spark import pipeline

    new, old = PipelineConfig(n_buckets=4), PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-kill-")
    store = TableStore(spark, out)
    if prior_run:
        run_mentions_stage(spark, transcripts_df, store, new)

    def kill(*args, **kwargs):
        raise _Killed(boundary)

    with monkeypatch.context() as m:
        m.setattr(pipeline, boundary, kill)
        with pytest.raises(_Killed):
            run_mentions_stage(spark, transcripts_df, store, old)

    run_mentions_stage(spark, transcripts_df, store, new)
    buckets = spark.read.parquet(f"{out}/mentions").select("bucket").distinct()
    assert {r["bucket"] for r in buckets.collect()} == set(range(4))
    pd.testing.assert_frame_equal(_mentions_pdf(spark, out), four_bucket_mentions)


def _planted(spark, transcripts_df):
    """The test corpus plus turns whose URN types stay invalid after type
    normalization (record errors: bad URN format + non-PascalCase type)."""
    texts = [
        "Deployed <urn:k8s-cluster:prod-east> behind the gateway.",
        "The job <urn:9lives:batch> retries nightly.",
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["planted-0", "planted-0"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["user", "assistant"],
            "text": texts,
            "tool": [None, None],
            "ts": pd.to_datetime(["2026-01-01 00:00"] * 2).astype("datetime64[us]"),
        }
    )
    planted = spark.createDataFrame(pdf, schema=transcripts_df.schema)
    return transcripts_df.unionByName(planted)


def _recounted(spark, out, transcripts) -> dict:
    """Every count metric recomputed from the stored tables."""
    from pyspark.sql import functions as F

    from kartograph_spark import validation as val

    def t(name):
        return spark.read.parquet(f"{out}/{name}")

    errors = t("validation_errors")
    return {
        "turns": transcripts.count(),
        "conversations": transcripts.select("conv_id").distinct().count(),
        "mentions": t("mentions").count(),
        "merged_entities": t("canonical_map").count(),
        "entities": val.node_urns(t("triples")).count(),
        "edges": t("graph_edges").count(),
        "triples": t("triples").count(),
        "broken_refs": t("broken_refs").count(),
        "orphans": errors.filter(F.col("message").startswith("orphan")).count(),
        "review_flags": t("review_flags").count(),
        "low_confidence_logged": t("low_confidence_log").count(),
        "validation_errors": errors.count(),
    }


def test_metrics_equal_stored_table_counts(spark, transcripts_df, alias_df):
    """Every run_pipeline count equals the count recomputed from the
    tables it left behind: on a fresh run, on a rerun that skips every
    stage (counts from the stage markers), and on the mid-triples
    resume of test_full_pipeline_resume_mid_triples."""
    import shutil

    from kartograph_spark.pipeline import run_pipeline

    tr = _planted(spark, transcripts_df)
    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-metrics-")

    def check(m):
        want = _recounted(spark, out, tr)
        assert {k: m[k] for k in want} == want

    m = run_pipeline(spark, tr, alias_df, out, cfg)
    check(m)
    assert m["validation_errors"] > 0  # the planted record errors

    lin = read_lineage(spark, out).toPandas()
    check(run_pipeline(spark, tr, alias_df, out, cfg))
    assert len(read_lineage(spark, out).toPandas()) == len(lin)  # all skipped

    # kill after the canonical stage, as in test_full_pipeline_resume_mid_triples
    survivors = lin[~lin["stage"].isin(["triples", "materialize"])]
    for f in glob.glob(os.path.join(out, LINEAGE_DIR, "*.parquet")):
        os.remove(f)
    for _, r in survivors.iterrows():
        record_completed(
            out, r["stage"], r["config_hash"], {int(r["partition_id"]): int(r["rows"])}
        )
    for t in ("triples", "broken_refs", "graph_nodes", "graph_edges"):
        shutil.rmtree(os.path.join(out, t), ignore_errors=True)
    check(run_pipeline(spark, tr, alias_df, out, cfg))


def test_stage_killed_mid_overwrite_is_not_resumed(spark, monkeypatch):
    """Config B dies after overwriting the triples tables, before its
    lineage row: config A's older lineage row and marker must not vouch
    for those tables.  B dropped the marker before the overwrite, so A's
    rerun recomputes the stage."""
    from kartograph_spark import pipeline
    from kartograph_spark.lineage import read_stage_marker

    tr, al = _tiny_corpus(spark)
    out = tempfile.mkdtemp(prefix="kg-stage-kill-")
    cfg_a, cfg_b = PipelineConfig(n_buckets=4), PipelineConfig(n_buckets=8)
    pipeline.run_pipeline(spark, tr, al, out, cfg_a)

    record = pipeline.record_completed

    def kill_triples(root, stage, *args):
        if stage == "triples":
            raise _Killed(stage)
        return record(root, stage, *args)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "record_completed", kill_triples)
        with pytest.raises(_Killed):
            pipeline.run_pipeline(spark, tr, al, out, cfg_b)
    assert read_stage_marker(out, "triples") == {}

    lin = read_lineage(spark, out).toPandas()
    pipeline.run_pipeline(spark, tr, al, out, cfg_a)
    lin2 = read_lineage(spark, out).toPandas()
    rerun = lin2[lin2["finished_at"] > lin["finished_at"].max()]
    assert "triples" in set(rerun[rerun["config_hash"] == cfg_a.config_hash]["stage"])


def _files_per_partition(out, table) -> dict[str, int]:
    """parquet files in each partition directory of ``table``."""
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(out, table, "*=*"))
    }


def test_partitioned_tables_hold_one_file_per_partition(
    spark, transcripts_df, alias_df
):
    """Partitioned writes are clustered by their partition columns: each
    partition directory holds one file, also after a resume that re-runs
    some mention buckets with dynamic partition overwrite."""
    from kartograph_spark.pipeline import run_pipeline

    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-layout-")
    run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    tables = ("triples", "graph_edges", "graph_nodes", "mentions")
    for t in tables:
        files = _files_per_partition(out, t)
        assert files and set(files.values()) == {1}, (t, files)

    # forget three mention buckets: the rerun re-extracts only those
    lin = read_lineage(spark, out).toPandas()
    lost = {1, 4, 6}
    survivors = lin[~((lin["stage"] == "mentions") & lin["partition_id"].isin(lost))]
    for f in glob.glob(os.path.join(out, LINEAGE_DIR, "*.parquet")):
        os.remove(f)
    for _, r in survivors.iterrows():
        record_completed(
            out, r["stage"], r["config_hash"], {int(r["partition_id"]): int(r["rows"])}
        )
    lin_mid = read_lineage(spark, out).toPandas()
    run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    lin2 = read_lineage(spark, out).toPandas()
    redone = lin2[lin2["finished_at"] > lin_mid["finished_at"].max()]
    assert set(redone["partition_id"]) == lost
    assert set(_files_per_partition(out, "mentions").values()) == {1}


def test_run_pipeline_releases_its_cache(spark):
    """run_pipeline unpersists the dedup cache of its triple stage."""
    from kartograph_spark.pipeline import run_pipeline

    tr, al = _tiny_corpus(spark)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    run_pipeline(spark, tr, al, tempfile.mkdtemp(prefix="kg-cache-"), PipelineConfig())
    assert persistent().size() == before
