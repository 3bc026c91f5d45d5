"""End-to-end: run_pipeline's stored tables vs the DuckDB oracle
(``__spark_entry__``'s ``*_oracle_sql`` queries) on the deterministic
synthetic corpus (FIXTURES F3): exact row count and all-column row hash."""

import pytest
from oracle_check import TRIPLE_COLS, assert_matches_oracle, duckdb_frame

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def oracle_path(corpus_dir):
    return f"{corpus_dir}/transcripts.parquet"


def test_triples_match_oracle(spark, pipeline_out, oracle_path):
    """Every triple with its first-occurrence provenance (conv_id,
    turn_idx) equals the oracle's, row for row."""
    out, metrics = pipeline_out
    actual = spark.read.parquet(f"{out}/triples").toPandas()[TRIPLE_COLS]
    assert len(actual) == metrics["triples"] > 0
    assert_matches_oracle(actual, duckdb_frame(entry._pipeline_oracle_sql(oracle_path)))


def test_first_occurrence_provenance_matches_oracle(spark, pipeline_out, oracle_path):
    """Each (subj, pred, obj) is stored once, and carries the oracle's
    first-occurrence (conv_id, turn_idx)."""
    out, _ = pipeline_out
    key = ["subj", "pred", "obj"]
    actual = spark.read.parquet(f"{out}/triples").toPandas()
    expected = duckdb_frame(entry._pipeline_oracle_sql(oracle_path))
    assert not actual.duplicated(key).any()
    assert not expected.duplicated(key).any()
    merged = actual.merge(expected, on=key, how="outer", suffixes=("_a", "_e"), indicator=True)
    assert (merged["_merge"] == "both").all()
    assert (merged["conv_id_a"] == merged["conv_id_e"]).all()
    assert (
        merged["turn_idx_a"].astype("int64") == merged["turn_idx_e"].astype("int64")
    ).all()


def test_metrics_rollup(pipeline_out):
    _, metrics = pipeline_out
    assert metrics["triples"] > 0
    assert metrics["entities"] > 0
    assert metrics["edges"] > 0
    assert metrics["broken_refs"] == 0
    assert metrics["triples_per_sec"] is not None


def test_graph_tables_consistent(spark, pipeline_out):
    out, metrics = pipeline_out
    nodes = spark.read.parquet(f"{out}/graph_nodes")
    edges = spark.read.parquet(f"{out}/graph_edges")
    assert nodes.count() == metrics["entities"]
    # every edge endpoint is a node (two-pass rule: broken refs excluded)
    dangling = edges.join(
        nodes.selectExpr("urn as obj"), "obj", "left_anti"
    ).count()
    assert dangling == 0


def test_schema_manifest(pipeline_out):
    import json

    out, _ = pipeline_out
    manifest = json.load(open(f"{out}/schema_manifest.json"))
    by_pred = {m["predicate"]: m for m in manifest}
    assert by_pred["mentions"]["resolved_type"] == "uid"
    assert by_pred["mentions"]["reverse"] is True
    assert by_pred["turn_count"]["resolved_type"] == "int"
    assert by_pred["has_tool_calls"]["resolved_type"] == "bool"
    assert by_pred["avg_gap_secs"]["resolved_type"] == "float"
    assert by_pred["name"]["index"] == ["exact", "term", "fulltext", "trigram"]
    assert by_pred["mentions"]["index"] == []

    # sparse per-type predicate lists + Dgraph-style schema text
    tps = {t["type"]: t["predicates"] for t in json.load(
        open(f"{out}/type_predicates.json")
    )}
    assert "turn_count" in tps["Conversation"]
    assert all("dgraph.type" not in ps for ps in tps.values())
    schema = open(f"{out}/schema.dgraph").read()
    assert "name: string @index(exact, term, fulltext, trigram) ." in schema
    assert "mentions: [uid] @reverse ." in schema
    assert "type Conversation {" in schema


def test_long_conversation_salting(spark):
    """C2 analog: an under-split scan containing one huge conversation is
    repartitioned into (conv_id, turn-range) groups so it cannot pin a
    single task (chunk binary-split semantics, orchestrator.py:637-687)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kartograph_spark.pipeline import ensure_parallelism

    n = 5000
    pdf = pd.DataFrame(
        {
            "conv_id": ["conv-long"] * n,
            "turn_idx": list(range(n)),
            "role": ["user"] * n,
            "text": ["turn text"] * n,
            "tool": [None] * n,
            "ts": pd.to_datetime("2026-01-01"),
        }
    )
    df = spark.createDataFrame(pdf).coalesce(1)
    salted = ensure_parallelism(spark, df, salt_turns=1024)
    n_parts = (
        salted.select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    # 5000 turns / 1024-turn salt -> at least ceil(5000/1024)=5 distinct
    # task groups are POSSIBLE; require the conversation spans > 1
    assert n_parts > 1
    assert salted.count() == n


def test_report_sinks_written(pipeline_out):
    """S11/S12 integration: run_pipeline writes every report format."""
    import os

    out, metrics = pipeline_out
    for name in (
        "metrics.json", "metrics.csv", "metrics.md",
        "validation_report.md", "validation_report.txt",
        "schema_manifest.json", "type_predicates.json", "schema.dgraph",
    ):
        p = os.path.join(out, name)
        assert os.path.exists(p) and os.path.getsize(p) > 0, name
    md = open(os.path.join(out, "metrics.md")).read()
    assert f"- **Triples**: {metrics['triples']:,}" in md


def test_review_flags_match_oracle(spark, pipeline_out, oracle_path):
    """MEDIUM-tier relationships land in review_flags (not in the graph)
    and match the oracle exactly."""
    import urllib.parse

    out, metrics = pipeline_out
    actual = spark.read.parquet(f"{out}/review_flags").toPandas()
    assert_matches_oracle(actual, duckdb_frame(entry._review_flags_oracle_sql(oracle_path)))
    assert len(actual) > 0  # the corpus plants MEDIUM phrases
    assert metrics["review_flags"] == len(actual)
    # the flagged predicates never appear as graph edges
    flagged_preds = set(actual["pred"])
    triples = spark.read.parquet(f"{out}/triples").toPandas()
    assert not (triples["pred"].isin(flagged_preds) & triples["obj_is_ref"]).any()
    # but the flagged entities DO exist as nodes (entity extracted)
    enc_objs = {urllib.parse.quote(o, safe=":") for o in actual["obj"]}
    node_set = set(
        triples.loc[triples["pred"] == "dgraph.type", "subj"]
    )
    assert enc_objs <= node_set
