"""Exact comparison of a Spark result with a DuckDB oracle query
(``__spark_entry__``'s ``*_oracle_sql`` queries): same column names,
same row count, same order-insensitive hash over every column."""

import hashlib

import pandas as pd

#: the stored ``triples`` table's columns, as _pipeline_oracle_sql emits them
TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_ref", "dtype", "conv_id", "turn_idx"]


def row_md5(pdf: pd.DataFrame) -> str:
    """md5 over the sorted rows of ``pdf``, every column in name order,
    NULL (None / NaN / NA) rendered as the literal ``NULL``."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join("NULL" if pd.isna(v) else str(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def duckdb_frame(sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def assert_matches_oracle(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert sorted(got.columns) == sorted(want.columns), (list(got.columns), list(want.columns))
    assert len(got) == len(want), f"{len(got)} rows, oracle {len(want)}"
    assert row_md5(got) == row_md5(want), "same row count, different rows"
