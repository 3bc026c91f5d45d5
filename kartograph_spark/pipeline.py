"""End-to-end KG-construction pipeline (SURVEY.md §3.1 Spark equivalent).

Stages:
  1. mentions   — scan transcripts -> vectorized extraction (map-only,
                  resumable per conversation hash-bucket via _lineage)
  2. canonical  — entity linking pairs + type normalization + connected
                  components -> broadcast rewrite
  3. triples    — edge/node/conversation triple emission -> first-
                  occurrence dedup agg -> mixed-type resolution -> encode
  4. validate   — broken-ref exclusion (anti join), orphans, record rules
  5. materialize— graph_nodes / graph_edges / triples tables + schema
                  manifest + metrics

Shuffle budget (design-for-100TB): the extraction stage is shuffle-free;
canonicalization shuffles only entity-vocabulary-sized frames; the one
corpus-sized shuffle is the dedup groupBy on (subj,pred,obj) — map-side
combinable, AQE-coalesced, and skew-tolerant because hot entities shard
across (pred,obj) combinations.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kartograph_spark import triples as tr
from kartograph_spark import validation as val
from kartograph_spark.canonical import canonicalize_mentions
from kartograph_spark.config import PipelineConfig
from kartograph_spark.extraction.mentions import (
    extract_mentions,
    low_confidence_log,
)
from kartograph_spark.graph import (
    TableStore,
    build_edges,
    build_nodes,
    infer_schema_manifest,
    infer_type_predicates,
    write_schema_artifacts,
)
from kartograph_spark.lineage import (
    clear_stage_marker,
    completed_partitions,
    read_stage_marker,
    record_completed,
    write_metrics,
    write_stage_marker,
)
from kartograph_spark.reports import (
    ERROR_COLS,
    save_metrics_reports,
    save_validation_reports,
)


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def ensure_parallelism(
    spark: SparkSession, df: DataFrame, salt_turns: int
) -> DataFrame:
    """Guard against under-split inputs (few files / few row groups).

    On a real 100 TB table the scan itself yields thousands of splits and
    this is a no-op — we never pay an unconditional corpus shuffle.  When
    the scan has fewer partitions than cores (single-file fixtures, tiny
    extracts), repartition by (conv_id, turn-range): conversation affinity
    for the window stage plus the long-conversation salt (C2 analog) so a
    10^6-turn conversation doesn't pin one task.
    """
    cores = spark.sparkContext.defaultParallelism
    # 4x cores: tasks pack into even waves with small stragglers — a scan
    # with barely >= cores splits leaves cores idle at every wave tail
    if df.rdd.getNumPartitions() >= 4 * cores:
        return df
    return df.repartition(
        4 * cores,
        F.col("conv_id"),
        (F.col("turn_idx") / F.lit(salt_turns)).cast("int"),
    )


def run_mentions_stage(
    spark: SparkSession,
    transcripts: DataFrame,
    store: TableStore,
    cfg: PipelineConfig,
) -> DataFrame:
    """Resumable extraction stage: skip buckets already done for this
    config hash (J8 anti-join semantics, orchestrator.py:589-597).

    Stale-table guard: unless the lineage marker says the mentions table
    was last completed by THIS config, every bucket re-runs and the write
    is a FULL overwrite.  Another config may have used a different bucket
    count, and a missing marker means the last writer died before
    completing (or wrote no marker), so either way dynamic per-bucket
    overwrite could leave foreign partitions in the table.  The old
    marker is dropped before that overwrite, so a kill mid-write cannot
    leave it vouching for a half-replaced table.
    """
    marker = read_stage_marker(store.root, "mentions")
    stale = marker.get("config_hash") != cfg.config_hash
    if stale:
        clear_stage_marker(store.root, "mentions")
        done = set()
    else:
        done = completed_partitions(spark, store.root, "mentions", cfg.config_hash)
    pending = [b for b in range(cfg.n_buckets) if b not in done]

    if pending:
        sub = transcripts.withColumn("bucket", bucket_col(cfg.n_buckets))
        if done:
            sub = sub.filter(F.col("bucket").isin(pending))
        # Long-conversation salt (chunk-split analog): (conv_id, turn-range)
        # repartition so a 10^6-turn conversation doesn't pin one task —
        # applied only when the scan is under-split (extraction is per-turn,
        # so splitting is semantics-free and a well-split scan needs none).
        sub = ensure_parallelism(spark, sub, cfg.salt_turns)
        # clustered on the bucket like every partitioned TableStore write:
        # one file per bucket directory instead of one per task
        mentions = (
            extract_mentions(sub)
            .withColumn("bucket", bucket_col(cfg.n_buckets))
            .hint("rebalance", "bucket")
        )
        # Per-bucket lineage counts ride the write job as observed metrics
        # (count(CASE bucket) per pending bucket) instead of re-reading and
        # re-aggregating the table afterwards — one job, not two; zero
        # counts for mention-less buckets fall out of count(NULL) = 0.
        obs = Observation("mention_bucket_counts")
        mentions = mentions.observe(
            obs,
            *[
                F.count(F.when(F.col("bucket") == b, 1)).alias(f"b{b}")
                for b in pending
            ],
        )
        w = mentions.write.mode("overwrite")
        if not stale:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy("bucket").parquet(store.path("mentions"))
        got = obs.get
        counts = {b: int(got[f"b{b}"]) for b in pending}
        record_completed(store.root, "mentions", cfg.config_hash, counts)
    write_stage_marker(store.root, "mentions", cfg.config_hash)
    return spark.read.parquet(store.path("mentions")).drop("bucket")


def _triple_stage(
    canonical: DataFrame, transcripts: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Canonical mentions -> (kept_triples, broken_ref_report, cache):
    emit -> first-occurrence dedup -> uid resolution -> encode ->
    broken-ref split.  ``cache`` is the persisted dedup frame both
    outputs read; the caller unpersists it once it is done with them."""
    raw = tr.mention_triples(canonical).unionByName(
        tr.conversation_triples(transcripts)
    )
    # persist the deduped triples, not the encoded ones: the uid-predicate
    # collect (resolve, a global second pass) and the validation fan-out
    # (scalars / kept refs / node set) would otherwise each replay the
    # extraction->rewrite->explode map work and the dedup shuffle; the
    # downstream encode/filters are cheap column maps over the cache.
    # The uid-predicate collect IS the eager materialization action: it
    # computes every partition into the cache (AQE would otherwise race
    # the downstream branches into independent recomputes — observed 6x)
    # while returning the resolve input, one job instead of two.
    deduped = tr.dedup_first_occurrence(raw).persist()
    resolved = tr.apply_uid_resolution(
        deduped, tr.collect_uid_predicates(deduped)
    )
    encoded = tr.encode_final(resolved)
    return (*val.split_broken_refs(encoded), deduped)


def build_triples(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    cfg: PipelineConfig | None = None,
    mentions: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Pure transformation composition (no store): returns (kept_triples,
    broken_ref_report).  Used by in-memory callers (__spark_entry__,
    bench); run_pipeline runs the same stages with stored outputs."""
    cfg = cfg or PipelineConfig()
    if mentions is None:
        # persist: the mention frame feeds type-norm, pair generation and
        # the canonical rewrite — without this the extraction UDF re-runs
        # once per downstream action.  Only the UDF input needs the
        # under-split guard; conversation_triples is a partial aggregation
        # that parallelizes off the raw scan without a repartition shuffle.
        salted = ensure_parallelism(spark, transcripts, cfg.salt_turns)
        # surface is a debugging column no downstream stage reads — drop it
        # before the cache so the corpus-sized persist carries less data
        mentions = extract_mentions(salted).drop("surface").persist()
    canonical, _cmap = canonicalize_mentions(
        mentions, alias_dict, cfg.confidence_threshold
    )
    # the returned frames read the dedup cache lazily, so it stays
    # persisted for the caller's actions
    kept, broken, _cache = _triple_stage(canonical, transcripts)
    return kept, broken


#: whole-stage lineage sentinel: the global stages (canonical / triples /
#: materialize) are all-or-nothing — canonicalization and the first-
#: occurrence dedup are corpus-global aggregations, so there is no
#: per-bucket unit to resume below the stage (the reference's resume has
#: the same shape: per-chunk for extraction, whole-artifact for the
#: restored entity store, orchestrator.py:484-536).
STAGE_SENTINEL = -1


def _run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    cfg: PipelineConfig,
    write_tables: Callable[[], dict[str, int]],
) -> dict[str, int]:
    """Run a global stage unless this config completed it; returns the
    counts its writes observed, read back from the marker when skipped.

    Done = a lineage row for this config AND a marker saying the stage's
    tables were last written by this config, with their counts — the
    lineage rows alone would serve another config's overwritten tables
    after a config round-trip, and a marker without counts predates
    them.  The marker is dropped before the tables are overwritten, so a
    kill mid-stage leaves no marker over half-written tables."""
    marker = read_stage_marker(root, stage)
    counts = marker.get("counts")
    if (
        counts
        and marker["config_hash"] == cfg.config_hash
        and STAGE_SENTINEL
        in completed_partitions(spark, root, stage, cfg.config_hash)
    ):
        return counts
    clear_stage_marker(root, stage)
    counts = write_tables()
    # the lineage row carries the size of the stage's first table
    rows = next(iter(counts.values()))
    record_completed(root, stage, cfg.config_hash, {STAGE_SENTINEL: rows})
    write_stage_marker(root, stage, cfg.config_hash, counts)
    return counts


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Full pipeline; returns the metrics rollup (A7).

    Resume covers EVERY stage (J8/S10, orchestrator.py:484-536,589-597):
    mentions per conversation-bucket (run_mentions_stage), then one
    lineage row per global stage — ``canonical`` (canonicalized mentions
    + canonical map tables), ``triples`` (kept triples + broken-ref
    report), ``materialize`` (graph/validation/report artifacts).  A
    re-run after a mid-stage kill skips each stage whose lineage row is
    present for this config hash and reads its stored output instead of
    recomputing; outputs are overwrite-idempotent either way.  Every
    table count in the rollup is observed on the write that produced the
    table and kept in the stage marker, so fresh and resumed runs report
    from the same source without re-reading the tables.
    """
    cfg = cfg or PipelineConfig()
    store = TableStore(spark, out_dir)
    t0 = time.time()

    mentions = run_mentions_stage(spark, transcripts, store, cfg)

    def canonical_tables() -> dict[str, int]:
        canonical, cmap = canonicalize_mentions(
            mentions, alias_dict, cfg.confidence_threshold
        )
        return {
            "canonical_mentions": store.write(canonical, "canonical_mentions"),
            "canonical_map": store.write(cmap, "canonical_map"),
        }

    def triple_tables() -> dict[str, int]:
        kept, broken, cache = _triple_stage(
            store.read("canonical_mentions"), transcripts
        )
        try:
            return {
                "triples": store.write(kept, "triples", partition_by=["pred"]),
                "broken_refs": store.write(broken, "broken_refs"),
            }
        finally:
            cache.unpersist()

    def materialize_tables() -> dict[str, int]:
        canonical = store.read("canonical_mentions")
        kept = store.read("triples")
        errors = (
            store.read("broken_refs")
            .unionByName(val.find_orphans(kept))
            .unionByName(val.record_errors(canonical))
        )
        orphans = Observation()
        is_orphan = F.col("message").startswith("orphan")
        counts = {
            "validation_errors": store.write(
                errors.observe(orphans, F.count(F.when(is_orphan, 1)).alias("n")),
                "validation_errors",
            ),
            "orphans": int(orphans.get["n"]),
            # from the stored table: summarizing the ``errors`` plan would
            # re-run the broken-ref read, the orphan joins and the rules
            "validation_summary": store.write(
                val.validation_summary(store.read("validation_errors")),
                "validation_summary",
            ),
            "review_flags": store.write(val.review_flags(canonical), "review_flags"),
            "low_confidence_log": store.write(
                low_confidence_log(transcripts), "low_confidence_log"
            ),
            "graph_nodes": store.write(
                build_nodes(kept), "graph_nodes", partition_by=["type"]
            ),
            "graph_edges": store.write(
                build_edges(kept), "graph_edges", partition_by=["pred"]
            ),
        }
        write_schema_artifacts(
            infer_schema_manifest(kept), infer_type_predicates(kept), out_dir
        )
        return counts

    canon = _run_stage(spark, store.root, "canonical", cfg, canonical_tables)
    trip = _run_stage(spark, store.root, "triples", cfg, triple_tables)
    mat = _run_stage(spark, store.root, "materialize", cfg, materialize_tables)

    dur = time.time() - t0
    corpus = transcripts.agg(
        F.count(F.lit(1)).alias("turns"),
        F.countDistinct("conv_id").alias("conversations"),
    ).first()
    n_triples = trip["triples"]
    metrics = {
        "turns": corpus["turns"],
        "conversations": corpus["conversations"],
        "mentions": mentions.count(),
        "merged_entities": canon["canonical_map"],
        # build_nodes keeps one row per typed URN
        "entities": mat["graph_nodes"],
        "edges": mat["graph_edges"],
        "triples": n_triples,
        "broken_refs": trip["broken_refs"],
        "orphans": mat["orphans"],
        "review_flags": mat["review_flags"],
        "low_confidence_logged": mat["low_confidence_log"],
        "validation_errors": mat["validation_errors"],
        "duration_secs": round(dur, 3),
        "triples_per_sec": round(n_triples / dur, 1) if dur > 0 else None,
        "config_hash": cfg.config_hash,
    }
    write_metrics(out_dir, metrics)
    # S11/S12 report formats (metrics CSV/MD, validation MD/text).  The
    # error table is vocabulary-sized (distinct invalid URNs / types;
    # broken refs are empty by construction here) — cap the collect so an
    # adversarial input can't flood the driver; the report renders counts
    # + first-N samples, matching the reference's truncation.
    ebt = {
        r["type"]: r["n"]
        for r in store.read("graph_nodes")
        .groupBy("type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    save_metrics_reports(out_dir, metrics, ebt)
    save_validation_reports(
        out_dir,
        store.read("validation_errors").limit(100_000).toPandas()[ERROR_COLS],
    )
    return metrics
