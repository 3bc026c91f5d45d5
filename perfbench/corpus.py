"""Seeded workload corpora.

``shared`` is the synthetic transcript corpus of ``kartograph_spark.synth``:
turns draw from a small pool of texts, so inputs share much of their work.
``wide`` takes the same turns and gives every URN identifier and every
tool, service and database name a per-conversation suffix, which turns the
repeated vocabulary into a long tail (more distinct entities and triples,
a larger canonical pair set, a wider dedup shuffle).
"""

from __future__ import annotations

import os
import re

import pandas as pd

from kartograph_spark import synth

#: corpus shape (one size for every workload; see README.md for why it is
#: smaller than the 5,000-conversation corpus of bench.py)
N_CONV = 200
MEAN_TURNS = 30

_URN = re.compile(r"<urn:([^:<>]+):([^<>]+)>")
_NAMES = sorted(set(synth.TOOLS + synth.SERVICES + synth.DBS), key=len, reverse=True)
_NAME = re.compile(r"\b(" + "|".join(re.escape(n) for n in _NAMES) + r")\b")


def widen(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Suffix URN identifiers, tool/service/database names in the text and
    the tool column with ``-w<conversation number>``.  Keeps every row,
    ``(conv_id, turn_idx)``, the row order and the schema."""
    sfx = "-w" + transcripts["conv_id"].str.rsplit("-", n=1).str[-1]
    text = [
        _NAME.sub(rf"\1{s}", _URN.sub(rf"<urn:\1:\2{s}>", t))
        for t, s in zip(transcripts["text"], sfx)
    ]
    out = transcripts.copy()
    out["text"] = pd.Series(text, index=out.index, dtype=transcripts["text"].dtype)
    out["tool"] = transcripts["tool"].where(
        transcripts["tool"].isna(), transcripts["tool"] + sfx
    )
    return out


def write(out_dir: str, kind: str, seed: int, **shape) -> dict:
    """Write ``transcripts.parquet`` (one file, which the Spark input and
    the DuckDB oracle both read) and ``alias_dictionary.parquet`` beside
    it (the oracle reads the alias file from the transcripts' directory).
    ``shape`` overrides ``synth.gen_transcripts`` sizes (tests use tiny
    corpora).  Returns corpus statistics."""
    os.makedirs(out_dir, exist_ok=True)
    shape = {"n_conv": N_CONV, "mean_turns": MEAN_TURNS, **shape}
    tr = synth.gen_transcripts(seed=seed, **shape)
    if kind == "wide":
        tr = widen(tr)
    elif kind != "shared":
        raise ValueError(f"unknown corpus kind: {kind}")
    tr.to_parquet(
        os.path.join(out_dir, "transcripts.parquet"), index=False, row_group_size=8192
    )
    synth.gen_alias_dictionary(seed=seed).to_parquet(
        os.path.join(out_dir, "alias_dictionary.parquet"), index=False
    )
    return {
        "kind": kind,
        "turns": len(tr),
        "conversations": int(tr["conv_id"].nunique()),
        "distinct_texts": int(tr["text"].nunique()),
    }
