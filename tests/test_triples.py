"""Triple-emission rules: predicate cleaning, literal sanitization,
mixed-type resolution, N-Quads rendering (load_dgraph.py:273-417)."""

from pyspark.sql import functions as F

from kartograph_spark import triples as tr


def test_clean_predicate_spark(spark):
    df = spark.createDataFrame(
        [("@type",), ("$schema",), ("a:b/c\\d",), ("uid",), ("dgraph.foo",), ("name",)],
        "pred string",
    )
    got = [r[0] for r in df.select(tr.clean_predicate_col(F.col("pred"))).collect()]
    assert got == ["type", "_schema", "a_b_c_d", "_uid", "_dgraph.foo", "name"]


def test_literal_sanitization_parity(spark):
    vals = ['has "quotes"', "line\nbreak", "back\\slash", "{json}", "[arr]", "None", "ok"]
    df = spark.createDataFrame([(v,) for v in vals], "val string")
    got = df.select(
        tr.escape_literal_col(F.col("val")).alias("esc"),
        (~tr.literal_kept_col(tr.escape_literal_col(F.col("val")))).alias("dropped"),
    ).collect()
    esc = [r["esc"] for r in got]
    # {json}, [arr], None dropped (load_dgraph.py:408-417)
    assert [r["dropped"] for r in got] == [False, False, False, True, True, True, False]
    assert esc == [
        'has \\"quotes\\"',
        "line\\nbreak",
        "back\\\\slash",
        "{json}",
        "[arr]",
        "None",
        "ok",
    ]


def test_encode_urn_parity(spark):
    import urllib.parse

    vals = [
        "urn:Service:api.v2",
        "urn:CodeRepository:https://github.com/org/repo",
        "urn:EmailAddress:a+b@c.io",
        "urn:Team:data eng",
        'urn:X:we"ird',
    ]
    df = spark.createDataFrame([(v,) for v in vals], "urn string")
    got = [r[0] for r in df.select(tr.encode_urn_col(F.col("urn"))).collect()]
    # parity with urllib.parse.quote(urn, safe=":") (load_dgraph.py:351-355)
    assert got == [urllib.parse.quote(v, safe=":") for v in vals]


def test_mixed_type_resolution(spark):
    rows = [
        # pred 'rel' observed as uid AND scalar -> scalar dropped
        ("urn:A:a", "rel", "urn:B:b", True, "uid", "c", 0, 0, 0),
        ("urn:A:a", "rel", "stringval", False, "string", "c", 1, 0, 0),
        # pred 'lit' scalar only -> kept
        ("urn:A:a", "lit", "42", False, "int", "c", 2, 0, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long, kind_rank long, match_idx long",
    )
    out = tr.resolve_mixed_type_predicates(df).collect()
    kept = {(r["pred"], r["obj"]) for r in out}
    assert kept == {("rel", "urn:B:b"), ("lit", "42")}


def test_nquad_rendering(spark):
    rows = [
        ("urn:A:a", "rel", "urn:B:b", True, "uid"),
        ("urn:A:a", "name", "Alpha", False, "string"),
        ("urn:A:a", "n", "3", False, "int"),
        ("urn:A:a", "f", "1.5", False, "float"),
        ("urn:A:a", "ok", "true", False, "bool"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_ref boolean, dtype string"
    )
    got = {r[0] for r in tr.to_nquads(df).collect()}
    assert got == {
        "<urn:A:a> <rel> <urn:B:b> .",
        '<urn:A:a> <name> "Alpha" .',
        '<urn:A:a> <n> "3"^^<xs:int> .',
        '<urn:A:a> <f> "1.5"^^<xs:float> .',
        '<urn:A:a> <ok> "true"^^<xs:boolean> .',
    }


def test_first_occurrence_dedup(spark):
    rows = [
        ("s", "p", "o", True, "uid", "c2", 5, 0, 0),
        ("s", "p", "o", True, "uid", "c1", 9, 0, 0),  # earlier conv wins
        ("s", "p", "o", True, "uid", "c1", 2, 3, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long, kind_rank long, match_idx long",
    )
    out = tr.dedup_first_occurrence(df).collect()
    assert len(out) == 1
    assert (out[0]["conv_id"], out[0]["turn_idx"]) == ("c1", 2)


def test_dedup_keep_last_strategy(spark):
    """urn_merge_strategy 'last' (urn_deduplicator.py:83-85): latest
    emission wins provenance."""
    rows = [
        ("s", "p", "o", True, "uid", "c2", 5, 0, 0),
        ("s", "p", "o", True, "uid", "c1", 9, 0, 0),
        ("s", "p", "o", True, "uid", "c1", 2, 3, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long, kind_rank long, match_idx long",
    )
    out = tr.dedup_first_occurrence(df, keep="last").collect()
    assert len(out) == 1
    assert (out[0]["conv_id"], out[0]["turn_idx"]) == ("c2", 5)


def test_build_nodes_first_vs_last(spark):
    """Reference first/last cases (tests/unit/test_deduplication.py:41-100):
    duplicate URN, strategy picks which record's attributes survive."""
    from kartograph_spark.graph import build_nodes

    rows = [
        ("urn:Service:api1", "dgraph.type", "Service", False, "string", "c1", 0),
        ("urn:Service:api1", "name", "API 1 - First", False, "string", "c1", 0),
        ("urn:Service:api1", "dgraph.type", "Service", False, "string", "c1", 5),
        ("urn:Service:api1", "name", "API 1 - Second", False, "string", "c1", 5),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long",
    )
    first = build_nodes(df, strategy="first").collect()[0]
    assert first["name"] == "API 1 - First" and first["first_turn_idx"] == 0
    last = build_nodes(df, strategy="last").collect()[0]
    assert last["name"] == "API 1 - Second" and last["first_turn_idx"] == 5


def test_build_nodes_description_last_non_none(spark):
    """Description merge = 'use non-None description if available' scanning
    records in order (urn_deduplicator.py:124-127): the LAST record with a
    description wins, records without one never overwrite it — regardless
    of the first/last attribute strategy."""
    from kartograph_spark.graph import build_nodes

    rows = [
        ("urn:Service:a", "dgraph.type", "Service", False, "string", "c1", 0),
        ("urn:Service:a", "name", "A", False, "string", "c1", 0),
        ("urn:Service:a", "description", "first desc", False, "string", "c1", 1),
        ("urn:Service:a", "description", "second desc", False, "string", "c1", 4),
        # later record mentions the entity again WITHOUT a description
        ("urn:Service:a", "dgraph.type", "Service", False, "string", "c2", 9),
        # entity with no description at all -> NULL
        ("urn:Service:b", "dgraph.type", "Service", False, "string", "c1", 2),
        ("urn:Service:b", "name", "B", False, "string", "c1", 2),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long",
    )
    for strategy in ("first", "last"):
        got = {
            r["urn"]: r["description"]
            for r in build_nodes(df, strategy=strategy).collect()
        }
        assert got["urn:Service:a"] == "second desc"
        assert got["urn:Service:b"] is None


def _schema_fixture(spark):
    """Triple set exercising every index-selection branch of the
    reference's generate_schema (load_dgraph.py:209-265)."""
    rows = [
        ("urn:Service:a", "dgraph.type", "Service", False, "string", "c1", 0),
        ("urn:Service:a", "name", "A", False, "string", "c1", 0),
        ("urn:Service:a", "url", "https://x", False, "string", "c1", 0),
        ("urn:Service:a", "mentions", "urn:Tool:t", True, "uid", "c1", 0),
        ("urn:Service:a", "notes", "free text", False, "string", "c1", 0),
        ("urn:Tool:t", "dgraph.type", "Tool", False, "string", "c1", 1),
        ("urn:Tool:t", "name", "T", False, "string", "c1", 1),
        ("urn:Conversation:c1", "dgraph.type", "Conversation", False, "string", "c1", 0),
        ("urn:Conversation:c1", "turn_count", "3", False, "int", "c1", 0),
        ("urn:Conversation:c1", "has_tool_calls", "true", False, "bool", "c1", 0),
        # mixed scalar types on one predicate -> string
        ("urn:Tool:t", "notes", "7", False, "int", "c1", 1),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long",
    )


def test_schema_manifest_index_selection(spark):
    """Index rules transcribed from load_dgraph.py:229-265: name gets
    (exact, term, fulltext, trigram) — trigram required for regexp() —
    other INDEXED_PREDICATES strings (exact, term, trigram), uid preds
    @reverse with no @index, unlisted scalars unindexed."""
    from kartograph_spark.graph import infer_schema_manifest

    by_pred = {m["predicate"]: m for m in infer_schema_manifest(_schema_fixture(spark))}
    assert by_pred["name"]["index"] == ["exact", "term", "fulltext", "trigram"]
    assert by_pred["url"]["index"] == ["exact", "term", "trigram"]
    assert by_pred["mentions"]["resolved_type"] == "uid"
    assert by_pred["mentions"]["reverse"] is True
    assert by_pred["mentions"]["index"] == []
    assert by_pred["notes"]["resolved_type"] == "string"  # mixed -> string
    assert by_pred["notes"]["index"] == []
    assert by_pred["turn_count"]["index"] == []  # int, not in INDEXED_PREDICATES


def test_type_predicates_sparse(spark):
    """Per-type predicate lists (load_dgraph.py:114-118, 219-227): each
    type lists only predicates observed on its entities; dgraph.type
    itself is excluded (the reference skips the @type key)."""
    from kartograph_spark.graph import infer_type_predicates

    tp = {t["type"]: t["predicates"] for t in infer_type_predicates(_schema_fixture(spark))}
    assert tp["Service"] == ["mentions", "name", "notes", "url"]
    assert tp["Tool"] == ["name", "notes"]
    assert tp["Conversation"] == ["has_tool_calls", "turn_count"]
    assert "dgraph.type" not in {p for ps in tp.values() for p in ps}


def test_generate_schema_text_reference_format(spark):
    """Line format parity with generate_schema: sparse type blocks, the
    hardcoded indexed type predicate, [uid] @reverse relationships,
    @index(...) scalar lines."""
    from kartograph_spark.graph import (
        generate_schema_text,
        infer_schema_manifest,
        infer_type_predicates,
    )

    df = _schema_fixture(spark)
    text = generate_schema_text(
        infer_schema_manifest(df), infer_type_predicates(df)
    )
    lines = text.splitlines()
    assert "type Service {" in lines
    i = lines.index("type Service {")
    assert lines[i + 1 : i + 5] == ["  mentions", "  name", "  notes", "  url"]
    assert lines[i + 5] == "}"
    assert "type: string @index(exact, term) ." in lines
    assert "name: string @index(exact, term, fulltext, trigram) ." in lines
    assert "url: string @index(exact, term, trigram) ." in lines
    assert "mentions: [uid] @reverse ." in lines
    assert "notes: string ." in lines
    assert "turn_count: int ." in lines
    # type blocks come before the predicate section
    assert lines.index("type: string @index(exact, term) .") > i
