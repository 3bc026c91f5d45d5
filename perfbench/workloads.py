"""The benchmark's workloads: which corpus, which entry point, and the two
steps a warm pass is split into.

``full`` runs the entry point the way a user calls it (the cold pass and
the traced passes).  A warm pass runs ``extract`` and then ``resume``,
timed apart: together they do the work of a full pass, and ``resume``
alone is a restart that finds the mentions already extracted.  A step
returns the DataFrame of output triples, or None when a later step of the
same pass produces them.
"""

from __future__ import annotations

import json
import os

from kartograph_spark.config import PipelineConfig
from kartograph_spark.extraction.mentions import extract_mentions
from kartograph_spark.graph import TableStore
from kartograph_spark.pipeline import (
    build_triples,
    ensure_parallelism,
    run_mentions_stage,
    run_pipeline,
)


class Workload:
    corpus: str  # corpus kind, see corpus.write
    traces_pipeline = False  # wrap run_pipeline's writes in the traced run
    #: untimed ``build`` passes between the cold pass and the timed passes
    #: of an untraced run.  The first warm pass after the cold one still
    #: runs while the JIT compiles the cold pass's code, and is 0-27%
    #: slower than the next, by a share that varies from run to run.
    warm_up = 0

    def __init__(self, spark, corpus_dir: str):
        self.spark = spark
        # lineage buckets scale with the cluster like shuffle partitions
        # (2 per core): the corpus is tiny, and 32 buckets per write task
        # would make per-file overhead dominate every write
        self.cfg = PipelineConfig(n_buckets=2 * spark.sparkContext.defaultParallelism)
        self.transcripts = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
        self.alias = spark.read.parquet(os.path.join(corpus_dir, "alias_dictionary.parquet"))

    def full(self, out_dir: str):
        raise NotImplementedError

    def build(self, out_dir: str):
        """In-memory ``build_triples`` over the corpus."""
        return build_triples(self.spark, self.transcripts, self.alias, self.cfg)[0]

    def extract(self, out_dir: str) -> None:
        raise NotImplementedError

    def resume(self, out_dir: str):
        raise NotImplementedError

    def check_side(self, out_dir: str, expected_rows: int, stats: dict) -> list[str]:
        """Checks beyond the triple digest; returns the problems found."""
        return []


class BuildWide(Workload):
    """In-memory ``build_triples`` over the long-tail corpus.  The warm
    pass persists the mentions the way ``build_triples`` does, then hands
    them to ``build_triples``."""

    corpus = "wide"
    _mentions = None

    full = Workload.build

    def extract(self, out_dir: str) -> None:
        salted = ensure_parallelism(self.spark, self.transcripts, self.cfg.salt_turns)
        self._mentions = extract_mentions(salted).drop("surface").persist()
        self._mentions.count()

    def resume(self, out_dir: str):
        return build_triples(self.spark, self.transcripts, self.alias, self.cfg, self._mentions)[0]


class Pipeline(Workload):
    """``run_pipeline``, the production entry point, over the shared
    corpus.  The warm pass runs the mentions stage, then ``run_pipeline``
    over the directory that stage left behind."""

    corpus = "shared"
    traces_pipeline = True
    #: one in-memory build runs every layer the two entry points share at
    #: a third of the cost of a second timed pass (``build_wide`` times two
    #: passes instead, which cost about as much as a build and one)
    warm_up = 1

    def full(self, out_dir: str):
        run_pipeline(self.spark, self.transcripts, self.alias, out_dir, self.cfg)
        return self.spark.read.parquet(os.path.join(out_dir, "triples"))

    def extract(self, out_dir: str) -> None:
        run_mentions_stage(self.spark, self.transcripts, TableStore(self.spark, out_dir), self.cfg)

    resume = full

    def check_side(self, out_dir: str, expected_rows: int, stats: dict) -> list[str]:
        with open(os.path.join(out_dir, "metrics.json")) as f:
            m = json.load(f)
        want = {
            "triples": expected_rows,
            "turns": stats["turns"],
            "conversations": stats["conversations"],
        }
        return [f"metrics.json {k}={m.get(k)} != {v}" for k, v in want.items() if m.get(k) != v]


WORKLOADS = {"build_wide": BuildWide, "pipeline": Pipeline}
