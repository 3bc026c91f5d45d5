"""Tests of the benchmark's own code: the wide corpus generator, the span
collector and the pass accounting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from kartograph_spark import synth
from perfbench import bench_env, checks, corpus
from perfbench.run import ROOT, Run
from perfbench.spans import LAYER_SPANS, ProcTree, Spans, layer_patches
from perfbench.workloads import BuildWide

TINY = {"n_conv": 30, "mean_turns": 6, "n_long": 1, "long_turns": 40}


def test_widen_is_deterministic_and_keeps_rows_and_schema():
    tr = synth.gen_transcripts(seed=7, **TINY)
    a, b = corpus.widen(tr), corpus.widen(tr)
    pd.testing.assert_frame_equal(a, b)
    assert list(a.columns) == list(tr.columns)
    assert (a.dtypes == tr.dtypes).all()
    assert len(a) == len(tr)
    pd.testing.assert_frame_equal(a[["conv_id", "turn_idx"]], tr[["conv_id", "turn_idx"]])
    # names and URN identifiers get the conversation's suffix ...
    row = a[a["text"].str.contains("<urn:[^:<>]+:[^<>]+>", regex=True)].iloc[0]
    assert f"-w{row['conv_id'].rsplit('-', 1)[1]}>" in row["text"]
    assert a["text"].nunique() > tr["text"].nunique()
    # ... malformed URNs stay malformed
    assert not a["text"].str.contains("<urn::x-w", regex=False).any()


def test_corpus_write_is_deterministic_per_seed(tmp_path):
    stats = [corpus.write(str(tmp_path / d), "wide", 5, **TINY) for d in ("a", "b")]
    assert stats[0] == stats[1]
    read = lambda d: pd.read_parquet(tmp_path / d / "transcripts.parquet")  # noqa: E731
    pd.testing.assert_frame_equal(read("a"), read("b"))
    corpus.write(str(tmp_path / "c"), "wide", 6, **TINY)
    assert not read("c").equals(read("a"))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench-work"))
    bench_env.configure(ROOT, work)
    s = bench_env.start_spark(work)
    yield s
    bench_env.stop_spark(s)


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("perfbench-corpus"))
    stats = corpus.write(d, "wide", 3, **TINY)
    stats["oracle_rows"], md5, stats["raw_triples"] = checks.oracle(
        os.path.join(d, "transcripts.parquet"), 2, str(tmp_path_factory.mktemp("duck"))
    )
    return d, stats, md5


def test_spans_attribute_jobs_to_the_innermost_group(spark):
    tree = ProcTree(bench_env.jvm_pid(spark))
    spans = Spans(spark, tree, "t0", "unattributed")
    spark.range(10).count()
    with spans.span("outer"):
        spark.range(10).count()
        with spans.span("inner"):
            spark.range(10).count()
            spark.range(10).count()
    rec = spans.finish()
    per_count = rec["unattributed"]["jobs"]  # jobs one count() runs
    assert per_count >= 1
    assert (rec["outer"]["jobs"], rec["inner"]["jobs"]) == (per_count, 2 * per_count)
    assert all(rec[s]["wall_s"] >= 0 for s in ("unattributed", "outer", "inner"))
    assert rec["_pass"]["wall_s"] == pytest.approx(
        sum(rec[s]["wall_s"] for s in ("unattributed", "outer", "inner")), rel=1e-6
    )


def test_traced_build_reports_every_layer(spark, tiny, tmp_path):
    d, stats, md5 = tiny
    wl = BuildWide(spark, d)
    tree = ProcTree(bench_env.jvm_pid(spark))
    spans = Spans(spark, tree, "t1", "unattributed")
    with layer_patches(spans):
        n, _ = checks.spark_digest(wl.full(str(tmp_path / "out")))
    rec = spans.finish()
    assert n == stats["oracle_rows"]
    for layer in LAYER_SPANS:
        assert rec[layer]["jobs"] >= 1, layer
        assert rec[layer]["rows_out"] > 0, layer
    assert rec["extraction"]["py_cpu_s"] > 0
    # the digest over the materialized validation output is the only
    # work left outside the layers
    assert rec["unattributed"]["jobs"] >= 1
    assert rec["triples.emit"]["rows_out"] == stats["raw_triples"]
    assert rec["triples.dedup"]["rows_out"] == n


def test_output_mismatch_counts_as_failed(spark, tiny, tmp_path):
    d, stats, md5 = tiny
    wl = BuildWide(spark, d)
    run = Run(spark, wl, ProcTree(bench_env.jvm_pid(spark)), str(tmp_path), stats)
    cold = run.one([wl.full], oracle_md5=md5)
    assert not cold["problems"] and run.expected[0] == stats["oracle_rows"]
    run.one([wl.extract, wl.resume])
    assert (run.attempted, run.failed) == (2, 0)
    run.one([lambda out: wl.full(out).limit(stats["oracle_rows"] - 1)])
    assert (run.attempted, run.failed) == (3, 1)

    def boom(out):
        raise RuntimeError("forced")

    run.one([boom])
    assert (run.attempted, run.failed) == (4, 2)
    assert len(run.warm()) == 1
