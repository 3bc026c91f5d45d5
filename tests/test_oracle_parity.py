"""build_triples vs the DuckDB oracle (_pipeline_oracle_sql) on a small
hand-built corpus whose tool values and struct names carry tab, newline
and double-space variants — the URN slug must collapse every whitespace
run the same way in both implementations."""

import pandas as pd
from oracle_check import TRIPLE_COLS, assert_matches_oracle, duckdb_frame

TOOLS = [
    "kubectl\tapply",
    "kubectl\napply",
    "kubectl  apply",
    "\thelm upgrade\n",
    "Query_Dgraph",
    None,
]
STRUCT_NAMES = ["payments\tapi", "payments\napi", "payments  api", "billing\t\t_svc"]


def _corpus() -> pd.DataFrame:
    texts = [
        f'Tool output: {{"apiVersion": "v1", "kind": "Service", "name": "{n}"}}'
        for n in STRUCT_NAMES
    ] + [
        "Service <urn:Application:pay> uses Prometheus.",
        "It is running on AWS and calls Vault.",
    ]
    rows = []
    for c in range(3):
        for i, text in enumerate(texts):
            rows.append((f"c{c}", i, text, TOOLS[(i + c) % len(TOOLS)]))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["role"] = ["user", "assistant"] * (len(pdf) // 2)
    pdf["ts"] = pd.to_datetime(["2026-01-01 00:00"] * len(pdf)).astype(
        "datetime64[us]"
    )
    return pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


def test_build_triples_matches_duckdb_oracle_on_whitespace_names(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from kartograph_spark.config import PipelineConfig
    from kartograph_spark.pipeline import build_triples

    tr_path = str(tmp_path / "transcripts.parquet")
    _corpus().to_parquet(tr_path, index=False)
    cols = ["alias_norm", "canonical_urn", "entity_type", "canonical_name"]
    pq.write_table(
        pa.table({c: pa.array([], pa.string()) for c in cols}),
        str(tmp_path / "alias_dictionary.parquet"),
    )

    tr = spark.read.parquet(tr_path)
    al = spark.read.parquet(str(tmp_path / "alias_dictionary.parquet"))
    kept, _ = build_triples(spark, tr, al, PipelineConfig(n_buckets=4))
    got = kept.toPandas()

    want = duckdb_frame(entry._pipeline_oracle_sql(tr_path))

    # the planted variants reach the output as slugged URNs
    tool_urns = set(got.loc[got["pred"] == "usedTool", "obj"])
    assert "urn:Tool:kubectl-apply" in tool_urns
    assert "urn:Tool:helm-upgrade" in tool_urns
    assert_matches_oracle(got[TRIPLE_COLS], want)
