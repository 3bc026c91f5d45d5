"""Output checks: the DuckDB oracle once per run, then a Spark-side
order-independent digest on every pass."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the output contract of ``build_triples`` and the stored ``triples`` table
COLS = ["subj", "pred", "obj", "obj_is_ref", "dtype", "conv_id", "turn_idx"]


def spark_digest(df: DataFrame) -> tuple[int, str]:
    """(row count, sum of xxhash64 over all columns).  The sum runs in
    decimal(38,0): a long sum overflows under ANSI mode."""
    row = (
        df.select(*COLS)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*COLS).cast("decimal(38,0)")).alias("h"),
        )
        .first()
    )
    return int(row["n"]), str(row["h"])


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    return str(v)


def row_md5(pdf) -> str:
    """Canonical hash of a triple table: md5 of its sorted rows."""
    rows = sorted(
        "\x1f".join(_cell(v) for v in r)
        for r in pdf[COLS].itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle(transcripts_path: str, threads: int, tmp_dir: str) -> tuple[int, str, int]:
    """(rows, row_md5, raw triples before dedup) of the DuckDB twin of the
    pipeline over one transcripts file; it reads
    ``alias_dictionary.parquet`` beside it."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect(config={"threads": threads, "temp_directory": tmp_dir})
    try:
        pdf = con.execute(entry._pipeline_oracle_sql(transcripts_path)).df()
        raw = con.execute(
            entry._pipeline_oracle_sql(transcripts_path, "SELECT count(*) FROM t_all")
        ).fetchone()[0]
    finally:
        con.close()
    return len(pdf), row_md5(pdf), int(raw)
