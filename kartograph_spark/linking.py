"""Entity linking — blocking keys + broadcast-join scoring (operator J7).

Reference semantics: known-entity reuse during extraction
(/root/reference/extraction/kg_extractor/orchestrator.py:294-325,
prompts/templates/entity_extraction.yaml:147-166) and two-pass reference
resolution (docs/PROCESS.md:1591-1663).  Rebuilt as batch joins:

- Blocking key = ``alias_norm(name)`` (lowercase, [-_ ]+ -> single space).
- The alias dictionary is small relative to the corpus (entity vocabulary,
  not mention count), so the join is an explicit ``broadcast()`` hash join
  — no shuffle of the mention table (north-rule requirement).
- Precedence: exact URN mentions (kind='urn') are never re-linked; a
  dictionary hit yields a coreference PAIR (derived_urn, canonical_urn,
  confidence=1.0) consumed by connected-components canonicalization,
  mirroring duplicate_groups application
  (agent_deduplicator.py:344-378) rather than an in-place rewrite, so
  chained merges resolve transitively.
- Dictionary blocking-key collisions resolve deterministically to the
  minimum canonical_urn (documented rule; FIXTURES F2 plants a collision).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def alias_norm_col(col):
    """Blocking key for entity linking: lower, runs of '-', '_' and
    whitespace -> one space, trimmed.  The alias dictionary stores its
    keys under the same normalization."""
    return F.trim(F.regexp_replace(F.lower(col), r"[-_\s]+", " "))


def load_alias_dictionary(alias_df: DataFrame) -> DataFrame:
    """Dedupe colliding blocking keys: keep min canonical_urn per alias_norm."""
    w = Window.partitionBy("alias_norm").orderBy("canonical_urn")
    return (
        alias_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def link_pairs(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Coreference pairs from dictionary hits.

    Returns (src, dst, confidence) where src=derived urn, dst=canonical urn.
    Broadcast hash join on the blocking key; kind='urn' mentions excluded
    (exact-URN precedence).
    """
    # pre-join dedupe: dropDuplicates runs a partial aggregation before
    # the shuffle, collapsing the corpus-sized mention stream to the
    # (urn, key) vocabulary per map task — so the broadcast join and the
    # final pair dedupe only ever see vocabulary-sized input
    cand = (
        mentions.filter(F.col("kind") != "urn")
        .select(F.col("urn"), alias_norm_col(F.col("name")).alias("alias_norm"))
        .dropDuplicates(["urn", "alias_norm"])
    )
    hits = cand.join(F.broadcast(alias_dict), "alias_norm", "inner")
    return (
        hits.filter(F.col("urn") != F.col("canonical_urn"))
        .select(
            F.col("urn").alias("src"),
            F.col("canonical_urn").alias("dst"),
            F.lit(1.0).alias("confidence"),
        )
        .dropDuplicates(["src", "dst"])
    )


def same_name_pairs(mentions: DataFrame) -> DataFrame:
    """Heuristic coreference: same (blocking key, entity_type), different URN.

    Mirrors the reference deduplicator's name-similarity grouping
    (agent_deduplicator.py:337-389) with a deterministic exact-blocking-key
    rule at confidence 0.9.  Pairs are emitted star-shaped against the
    minimum URN of each (key, type) group, so group size k yields k-1
    pairs — no quadratic blow-up on hot keys.
    """
    # single map-side-combinable aggregation (collect_set dedupes and the
    # sorted head is the group minimum) — replaces the dropDuplicates +
    # window pair of shuffles; group size is bounded by the distinct-URN
    # vocabulary per key, never the mention count
    grouped = (
        mentions.select(
            alias_norm_col(F.col("name")).alias("bkey"),
            F.col("entity_type"),
            F.col("urn"),
        )
        .groupBy("bkey", "entity_type")
        .agg(F.sort_array(F.collect_set("urn")).alias("urns"))
        .filter(F.size("urns") > 1)
    )
    return grouped.select(
        F.explode(F.expr("slice(urns, 2, size(urns) - 1)")).alias("src"),
        F.col("urns")[0].alias("dst"),
        F.lit(0.9).alias("confidence"),
    )
