"""Canonicalization: type normalization + coreference rewrite (M4).

Operators A1/A2/A3, J4/J6 and the connected-components closure
(SURVEY.md §2.5-2.6).  All dictionary-shaped joins are explicit
``broadcast()`` hash joins — the rewrite maps are entity-vocabulary-sized,
never corpus-sized, so the mention table is never shuffled here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kartograph_spark import rules
from kartograph_spark.components import canonical_map
from kartograph_spark.linking import alias_norm_col
from kartograph_spark.session import local_frame


def build_type_normalization(mentions: DataFrame) -> DataFrame:
    """Observed-type histogram -> (entity_type, canonical_type) map.

    A3 aggregation (agent_deduplicator.py:273-285); the distinct-type set
    is tiny even at 10^12 turns, so the deterministic rule
    (rules.build_type_norm_map) runs on collected counts and the result is
    broadcast back (J6).
    """
    counts = mentions.groupBy("entity_type").agg(F.count(F.lit(1)).alias("n"))
    pdf = counts.toPandas()
    norm = rules.build_type_norm_map(pdf) if len(pdf) else {}
    return local_frame(
        mentions.sparkSession,
        pd.DataFrame(list(norm.items()), columns=["entity_type", "canonical_type"]),
        "entity_type string, canonical_type string",
    )


def apply_type_normalization(mentions: DataFrame, norm: DataFrame) -> DataFrame:
    """Rewrite entity_type and the URN type segment (J6,
    agent_deduplicator.py:322: prefix rewrite keeps the identifier).

    ``subj_urn`` anchors (verb-mention subjects) carry their own embedded
    type segment and are rewritten with the same map — the anchor must
    stay identical to the URN its E1 mention row normalizes to."""
    out = mentions.join(F.broadcast(norm), "entity_type", "left")
    new_type = F.coalesce(F.col("canonical_type"), F.col("entity_type"))
    new_urn = F.when(
        F.col("canonical_type").isNotNull(),
        F.concat(
            F.lit("urn:"),
            F.col("canonical_type"),
            F.lit(":"),
            F.regexp_replace(F.col("urn"), r"^urn:[^:]*:", ""),
        ),
    ).otherwise(F.col("urn"))
    out = out.withColumn("entity_type", new_type).withColumn(
        "urn", new_urn
    ).drop("canonical_type")

    if "subj_urn" not in out.columns:
        return out
    subj_norm = norm.select(
        F.col("entity_type").alias("_subj_type"),
        F.col("canonical_type").alias("_subj_canon"),
    )
    out = out.withColumn(
        "_subj_type", F.regexp_extract("subj_urn", r"^urn:([^:]+):", 1)
    ).join(F.broadcast(subj_norm), "_subj_type", "left")
    new_subj = F.when(
        F.col("_subj_canon").isNotNull(),
        F.concat(
            F.lit("urn:"),
            F.col("_subj_canon"),
            F.lit(":"),
            F.regexp_replace(F.col("subj_urn"), r"^urn:[^:]*:", ""),
        ),
    ).otherwise(F.col("subj_urn"))
    return out.withColumn("subj_urn", new_subj).drop("_subj_type", "_subj_canon")


def coreference_pairs(
    mentions: DataFrame,
    alias_dict: DataFrame,
    confidence_threshold: float = 0.85,
) -> DataFrame:
    """Union of dictionary-hit pairs (confidence 1.0) and same-blocking-key
    pairs (0.9), gated at the reference's default agent similarity
    threshold 0.85 (config.py:98-103; gate agent_deduplicator.py:347-355).

    Both families derive from ONE corpus-scan aggregation: a single
    map-side-combinable groupBy on (bkey, entity_type) collects the URN
    vocabulary per key plus the dictionary-candidate subset (kind != urn).
    The dictionary is broadcast-LEFT-joined onto that vocabulary frame and
    both pair kinds explode out of the same row — a single consumer, so
    the corpus-sized map + shuffle genuinely runs once (a union of two
    branches would let column pruning specialize each branch's partial
    aggregate and defeat exchange reuse).  A final vocabulary-sized
    dropDuplicates absorbs the row multiplication a dictionary
    blocking-key collision introduces.  The separate link_pairs /
    same_name_pairs entry points each scan the corpus and remain for
    standalone use."""
    grouped = (
        mentions.select(
            alias_norm_col(F.col("name")).alias("bkey"),
            F.col("entity_type"),
            F.col("urn"),
            F.when(F.col("kind") != "urn", F.col("urn")).alias("cand_urn"),
        )
        .groupBy("bkey", "entity_type")
        .agg(
            F.sort_array(F.collect_set("urn")).alias("urns"),
            F.sort_array(F.collect_set("cand_urn")).alias("cand"),
        )
    )
    dictj = grouped.join(
        F.broadcast(
            alias_dict.select(F.col("alias_norm").alias("bkey"), "canonical_urn")
        ),
        "bkey",
        "left",
    )
    # same-blocking-key star pairs (0.9): slice(urns, 2, size-1) vs the
    # group minimum; empty when the group holds a single URN
    star = F.transform(
        F.expr("slice(urns, 2, size(urns) - 1)"),
        lambda u: F.struct(
            u.alias("src"),
            F.col("urns")[0].alias("dst"),
            F.lit(0.9).alias("confidence"),
        ),
    )
    # dictionary-hit pairs (1.0): every non-urn candidate under the key ->
    # its canonical; empty when the key has no dictionary entry
    hits = F.filter(
        F.transform(
            "cand",
            lambda u: F.struct(
                u.alias("src"),
                F.col("canonical_urn").alias("dst"),
                F.lit(1.0).alias("confidence"),
            ),
        ),
        lambda s: F.col("canonical_urn").isNotNull() & (s["src"] != s["dst"]),
    )
    pairs = dictj.select(F.explode(F.concat(star, hits)).alias("p")).select(
        "p.src", "p.dst", F.col("p.confidence").alias("confidence")
    )
    return (
        pairs.filter(F.col("confidence") >= confidence_threshold)
        .dropDuplicates(["src", "dst"])
        .select("src", "dst")
    )


def canonicalize_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    confidence_threshold: float = 0.85,
) -> tuple[DataFrame, DataFrame]:
    """Full canonicalization: type norm -> coref pairs -> CC -> rewrite.

    Returns (canonical mentions, canonical_map).  After the URN rewrite the
    canonical entity inherits the dictionary's display name/type where a
    dictionary canonical won (J4 coalesce,
    agent_deduplicator.py:344-378)."""
    spark = mentions.sparkSession
    norm = build_type_normalization(mentions)
    # typed is NOT persisted: it is a map-side broadcast join over the
    # (persisted) mention frame, so recomputing it for pair generation and
    # for the final rewrite is cheaper than a corpus-sized cache write
    typed = apply_type_normalization(mentions, norm)

    # The alias dictionary is entity-vocabulary-sized by contract (it is
    # what gets broadcast) — collect it ONCE and derive the preferred set
    # and dictionary metadata locally, instead of three separate scan /
    # collect jobs whose scheduling latency is pure Amdahl overhead.
    alias_pdf = alias_dict.toPandas()
    # explicit schema: an empty dictionary (or an all-null column) cannot
    # be inferred from the pandas frame
    alias_local = local_frame(spark, alias_pdf, alias_dict.schema)

    pairs = coreference_pairs(typed, alias_local, confidence_threshold)
    cmap = canonical_map(pairs, preferred=set(alias_pdf["canonical_urn"]))

    rewritten = (
        typed.withColumnRenamed("urn", "member_urn")
        .join(F.broadcast(cmap), "member_urn", "left")
        .withColumn("urn", F.coalesce(F.col("canonical_urn"), F.col("member_urn")))
        .drop("member_urn", "canonical_urn")
    )
    if "subj_urn" in rewritten.columns:
        # anchors are E1 urns; route them through the same canonical map
        scmap = cmap.select(
            F.col("member_urn").alias("subj_urn"),
            F.col("canonical_urn").alias("_subj_canon"),
        )
        rewritten = (
            rewritten.join(F.broadcast(scmap), "subj_urn", "left")
            .withColumn(
                "subj_urn", F.coalesce(F.col("_subj_canon"), F.col("subj_urn"))
            )
            .drop("_subj_canon")
        )

    # Dictionary metadata wins for canonical entities: overwrite
    # entity_type/name where urn is a dictionary canonical.  Aggregated
    # locally on the already-collected dictionary (no extra scan job).
    meta_pdf = (
        alias_pdf.groupby("canonical_urn")
        .agg(
            _dict_type=("entity_type", "min"),
            _dict_name=("canonical_name", "min"),
        )
        .reset_index()
        .rename(columns={"canonical_urn": "urn"})
    )
    dict_meta = local_frame(
        spark,
        meta_pdf[["urn", "_dict_type", "_dict_name"]],
        "urn string, _dict_type string, _dict_name string",
    )
    final = (
        rewritten.join(F.broadcast(dict_meta), "urn", "left")
        .withColumn(
            "entity_type", F.coalesce(F.col("_dict_type"), F.col("entity_type"))
        )
        .withColumn("name", F.coalesce(F.col("_dict_name"), F.col("name")))
        .drop("_dict_type", "_dict_name")
    )
    return final, cmap
