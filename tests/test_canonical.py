"""Type normalization + linking rules (A3/J6/J7, FIXTURES F4 type-case
variants: Service vs service vs Services -> Service)."""

import io
from contextlib import redirect_stdout

import pandas as pd
import pytest

from kartograph_spark import rules
from kartograph_spark.canonical import canonicalize_mentions
from kartograph_spark.extraction.mentions import MENTION_SCHEMA, extract_mentions
from kartograph_spark.linking import link_pairs, load_alias_dictionary


def test_type_norm_map_rule():
    counts = pd.DataFrame(
        {
            "entity_type": ["Service", "service", "Services", "Team", "tool"],
            "n": [5, 3, 2, 4, 1],
        }
    )
    norm = rules.build_type_norm_map(counts)
    assert norm == {"service": "Service", "Services": "Service", "tool": "Tool"}


def test_type_norm_keeps_pascal_multiword():
    counts = pd.DataFrame(
        {"entity_type": ["ProgrammingLanguage", "programminglanguages"], "n": [5, 1]}
    )
    norm = rules.build_type_norm_map(counts)
    assert norm == {"programminglanguages": "ProgrammingLanguage"}


def _mentions_df(spark, rows):
    data = [
        (
            r.get("conv_id", "c0"),
            r.get("turn_idx", 0),
            r.get("kind", "uses"),
            r.get("kind_rank", 4),
            r.get("match_idx", 0),
            r["urn"],
            r.get("entity_type", "Tool"),
            r.get("ident", "x"),
            r.get("name", "x"),
            r.get("pred", "usesTool"),
            r.get("surface", "x"),
            r.get("subj_urn"),
            r.get("confidence", "HIGH"),
        )
        for r in rows
    ]
    return spark.createDataFrame(data, MENTION_SCHEMA)


def test_alias_collision_resolves_to_min(spark, alias_df):
    ad = load_alias_dictionary(alias_df)
    rows = ad.filter(ad.alias_norm == "gateway").collect()
    assert len(rows) == 1
    assert rows[0]["canonical_urn"] == "urn:Application:api-gateway"


def test_link_pairs_exact_urn_precedence(spark, alias_df):
    ad = load_alias_dictionary(alias_df)
    mentions = _mentions_df(
        spark,
        [
            # kind='urn' must never be re-linked even if name matches an alias
            {"urn": "urn:Service:payment-api", "kind": "urn", "name": "payment api"},
            # verb mention with alias-dictionary name -> pair
            {"urn": "urn:Tool:payment-api", "kind": "uses", "name": "Payment-API"},
        ],
    )
    pairs = {(r["src"], r["dst"]) for r in link_pairs(mentions, ad).collect()}
    assert pairs == {("urn:Tool:payment-api", "urn:Service:payment-api")}


def test_canonicalize_merges_type_variants(spark, alias_df):
    mentions = _mentions_df(
        spark,
        [
            {"urn": "urn:Service:foo-svc", "entity_type": "Service", "kind": "urn",
             "kind_rank": 0, "name": "foo svc", "ident": "foo-svc"},
            {"urn": "urn:service:foo-svc", "entity_type": "service", "kind": "urn",
             "kind_rank": 0, "name": "foo svc", "ident": "foo-svc", "turn_idx": 1},
            {"urn": "urn:Services:foo-svc", "entity_type": "Services", "kind": "urn",
             "kind_rank": 0, "name": "foo svc", "ident": "foo-svc", "turn_idx": 2},
        ],
    )
    canon, cmap = canonicalize_mentions(mentions, alias_df)
    urns = {r["urn"] for r in canon.select("urn").collect()}
    assert urns == {"urn:Service:foo-svc"}


def test_canonicalize_applies_dictionary(spark, alias_df):
    mentions = _mentions_df(
        spark,
        [{"urn": "urn:Tool:payment-api", "kind": "uses", "name": "Payment_API",
          "entity_type": "Tool"}],
    )
    canon, cmap = canonicalize_mentions(mentions, alias_df)
    row = canon.collect()[0]
    assert row["urn"] == "urn:Service:payment-api"
    assert row["entity_type"] == "Service"
    assert row["name"] == "Payment API"


def test_coreference_pairs_single_scan_equivalence(spark):
    """The one-scan grouped formulation of coreference_pairs emits exactly
    the pair set of link_pairs ∪ same_name_pairs across the edge cases:
    blocking-key collisions in the dictionary, same key under multiple
    entity types, candidate == canonical (excluded), kind='urn' precedence
    (never a dictionary candidate), and null-name groups."""
    from pyspark.sql import functions as F

    from kartograph_spark.canonical import coreference_pairs
    from kartograph_spark.linking import link_pairs, same_name_pairs

    mrows = [
        ("urn", "urn:Service:pay-api", "Service", "pay api"),
        ("verb", "urn:Service:pay-api2", "Service", "Pay_API"),
        ("verb", "urn:Service:pay-api3", "Service", "pay  api"),
        ("verb", "urn:Team:pay-api", "Team", "pay api"),
        ("verb", "urn:Tool:docker", "Tool", "Docker"),
        ("urn", "urn:Tool:docker-x", "Tool", "docker"),
        ("verb", "urn:Tool:kube", "Tool", "collide"),
        ("verb", "urn:Service:kube-svc", "Service", "Collide"),
        ("verb", "urn:Tool:canon-a", "Tool", "selfhit"),
        ("verb", "urn:X:nn1", "X", None),
        ("verb", "urn:X:nn2", "X", None),
    ]
    m = spark.createDataFrame(
        mrows, "kind string, urn string, entity_type string, name string"
    )
    arows = [
        ("pay api", "urn:Service:payments", "Service", "Payments"),
        ("collide", "urn:Tool:canon1", "Tool", "C1"),
        ("collide", "urn:Tool:canon2", "Tool", "C2"),
        ("selfhit", "urn:Tool:canon-a", "Tool", "A"),
        ("docker", "urn:Tool:docker-canonical", "Tool", "Docker"),
    ]
    al = spark.createDataFrame(
        arows,
        "alias_norm string, canonical_urn string, entity_type string,"
        " canonical_name string",
    )
    old = set(
        map(
            tuple,
            link_pairs(m, al)
            .unionByName(same_name_pairs(m))
            .filter(F.col("confidence") >= 0.85)
            .select("src", "dst")
            .collect(),
        )
    )
    new = set(map(tuple, coreference_pairs(m, al, 0.85).collect()))
    assert old == new and len(new) == 12


@pytest.mark.parametrize("empty_dict", [False, True], ids=["corpus", "empty-dict"])
def test_canonical_plan_has_no_python_row_scan(
    spark, transcripts_df, alias_df, empty_dict
):
    """The driver-built maps (type norm, alias dictionary, canonical map,
    dictionary metadata) are JVM local relations: no plan over the
    canonical mentions re-runs Python workers to scan them."""
    alias = alias_df.limit(0) if empty_dict else alias_df
    canonical, _cmap = canonicalize_mentions(extract_mentions(transcripts_df), alias)
    buf = io.StringIO()
    with redirect_stdout(buf):
        canonical.explain("formatted")
    assert "LocalTableScan" in buf.getvalue()
    assert "applySchemaToPythonRDD" not in buf.getvalue()
