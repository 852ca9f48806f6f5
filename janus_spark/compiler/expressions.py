"""Expression AST → Spark Column compilation.

All SPARQL builtins and the Janus extension functions compile to native
Column expressions (JVM-side, inside whole-stage codegen) — no Python
UDFs anywhere on this path.

Error semantics: the reference's evaluator turns expression errors
(non-numeric argument, non-finite result) into row drops in FILTER
(src/extensions/query_options.rs:13-19).  Here those become nulls
(failed cast, guarded division), and ``DataFrame.filter`` treats a null
predicate as false — the same observable behavior.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from janus_spark.compiler.ast import (
    EBin,
    EBool,
    ECall,
    EIri,
    ENum,
    EStr,
    EUn,
    EVar,
    Expr,
)
from janus_spark.functions.registry import FUNCTION_REGISTRY
from janus_spark.model import is_iri

NUMERIC_BUILTINS = {"ABS", "CEIL", "FLOOR", "ROUND", "STRLEN", "RAND", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"}
NUMERIC_EXT_FNS = {"abs_diff", "relative_change", "zscore"}
NUMERIC_AGGS = {"SUM", "AVG", "COUNT", "COUNT_STAR"}


def is_numericish(e: Expr) -> bool:
    """Static test: does this expression force a numeric context?"""
    if isinstance(e, ENum):
        return True
    if isinstance(e, EBin) and e.op in ("+", "-", "*", "/"):
        return True
    if isinstance(e, EUn) and e.op == "-":
        return True
    if isinstance(e, ECall):
        return e.name in NUMERIC_BUILTINS or e.name in NUMERIC_EXT_FNS or e.name in NUMERIC_AGGS
    return False


def compile_expr(
    e: Expr,
    want: str | None = None,
    agg_map: dict[ECall, str] | None = None,
) -> Column:
    """Compile to a Column.  ``want``: 'num'|'str'|'bool'|None coercion hint.

    ``agg_map`` maps aggregate ECall nodes to already-computed column names
    (set during GROUP BY lowering).  Extension functions resolve through
    ``FUNCTION_REGISTRY`` (``functions.register_function``)."""

    def rec(x: Expr, w: str | None = None) -> Column:
        return compile_expr(x, w, agg_map)

    if agg_map and isinstance(e, ECall) and e in agg_map:
        return _coerce(F.col(agg_map[e]), want)

    if isinstance(e, EVar):
        return _coerce(F.col(e.name), want)
    if isinstance(e, ENum):
        return F.lit(e.value)
    if isinstance(e, EStr) or isinstance(e, EIri):
        return F.lit(e.value)
    if isinstance(e, EBool):
        return F.lit(e.value)

    if isinstance(e, EUn):
        if e.op == "!":
            return ~rec(e.operand, "bool")
        return -rec(e.operand, "num")

    if isinstance(e, EBin):
        op = e.op
        if op in ("||", "&&"):
            l, r = rec(e.left, "bool"), rec(e.right, "bool")
            return (l | r) if op == "||" else (l & r)
        if op in ("+", "-", "*", "/"):
            l, r = rec(e.left, "num"), rec(e.right, "num")
            if op == "+":
                return l + r
            if op == "-":
                return l - r
            if op == "*":
                return l * r
            return F.when(r != 0, l / r)  # div-by-zero -> null -> row drop
        # comparisons: numeric context if either side is numeric-ish
        w = "num" if (is_numericish(e.left) or is_numericish(e.right)) else None
        l, r = rec(e.left, w), rec(e.right, w)
        if op == "=":
            return l == r
        if op == "!=":
            return l != r
        if op == "<":
            return l < r
        if op == "<=":
            return l <= r
        if op == ">":
            return l > r
        if op == ">=":
            return l >= r
        raise ValueError(f"unknown binary op {op}")

    if isinstance(e, ECall):
        return _coerce(_compile_call(e, rec), want)

    raise ValueError(f"cannot compile expression {e!r}")


def _coerce(c: Column, want: str | None) -> Column:
    if want == "num":
        return c.try_cast("double")
    if want == "str":
        return c.cast("string")
    return c


def _compile_call(e: ECall, rec) -> Column:
    name = e.name
    a = e.args

    if name in FUNCTION_REGISTRY:
        return FUNCTION_REGISTRY[name](*[rec(x, "num") for x in a])

    if name == "STR":
        return rec(a[0]).cast("string")
    if name == "ABS":
        return F.abs(rec(a[0], "num"))
    if name == "CEIL":
        return F.ceil(rec(a[0], "num")).cast("double")
    if name == "FLOOR":
        return F.floor(rec(a[0], "num")).cast("double")
    if name == "ROUND":
        return F.round(rec(a[0], "num"), 0)
    if name == "CONCAT":
        return F.concat(*[rec(x, "str") for x in a])
    if name == "STRLEN":
        return F.length(rec(a[0], "str"))
    if name == "UCASE":
        return F.upper(rec(a[0], "str"))
    if name == "LCASE":
        return F.lower(rec(a[0], "str"))
    if name == "CONTAINS":
        return rec(a[0], "str").contains(rec(a[1], "str"))
    if name == "STRSTARTS":
        return rec(a[0], "str").startswith(rec(a[1], "str"))
    if name == "STRENDS":
        return rec(a[0], "str").endswith(rec(a[1], "str"))
    if name == "STRBEFORE":
        s, lit = rec(a[0], "str"), _lit_str(a[1])
        return F.when(s.contains(lit), s.substr(F.lit(1), F.locate(lit, s) - 1)).otherwise(F.lit(""))
    if name == "STRAFTER":
        s, lit = rec(a[0], "str"), _lit_str(a[1])
        return F.when(s.contains(lit), s.substr(F.locate(lit, s) + len(lit), F.lit(1_000_000))).otherwise(F.lit(""))
    if name == "SUBSTR":
        s = rec(a[0], "str")
        start = rec(a[1], "num").cast("int")
        if len(a) > 2:
            return s.substr(start, rec(a[2], "num").cast("int"))
        return s.substr(start, F.lit(1_000_000))
    if name == "REPLACE":
        return F.regexp_replace(rec(a[0], "str"), _lit_str(a[1]), _lit_str(a[2]))
    if name == "REGEX":
        return rec(a[0], "str").rlike(_lit_str(a[1]))
    if name == "MD5":
        return F.md5(rec(a[0], "str"))
    if name == "SHA1":
        return F.sha1(rec(a[0], "str"))
    if name in ("SHA256", "SHA384", "SHA512"):
        return F.sha2(rec(a[0], "str"), int(name[3:]))
    if name == "ENCODE_FOR_URI":
        # RFC 3986 unreserved set (ALPHA/DIGIT/-._~ stay literal,
        # everything else %-escaped).  Java URL encoding diverges on
        # three chars: space→'+', '~'→'%7E', and '*' left literal —
        # patch all three back to the SPARQL 1.1 contract.
        s = F.url_encode(rec(a[0], "str"))
        s = F.regexp_replace(s, r"\+", "%20")
        s = F.regexp_replace(s, r"%7E", "~")
        return F.regexp_replace(s, r"\*", "%2A")
    if name in ("IRI", "URI"):
        return rec(a[0], "str")
    if name == "LANG":
        # datatype/lang annotations are stripped at ingest
        # (sources/nquads.py:7-9); SPARQL's LANG returns "" for a
        # literal without a language tag
        s = rec(a[0], "str")
        return F.when(s.isNotNull(), F.lit("")).otherwise(F.lit(None).cast("string"))
    if name == "DATATYPE":
        s = rec(a[0], "str")
        return F.when(is_iri(s), F.lit(None).cast("string")).otherwise(
            F.lit("http://www.w3.org/2001/XMLSchema#string")
        )
    if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
        # xsd:dateTime accessors.  Terms are strings post-ingest: accept
        # an ISO timestamp lexical form OR the engine's epoch-millis
        # melt encoding (sources/melt.py:85) — whichever parses.
        s = rec(a[0], "str")
        ts = F.coalesce(
            s.try_cast("timestamp"),
            F.timestamp_millis(s.try_cast("long")),
        )
        if name == "SECONDS":
            # seconds-within-minute including the fraction (xsd:decimal
            # per spec; emitted as double) — exact: one division of the
            # integer micros remainder
            return (F.unix_micros(ts) % 60_000_000).cast("double") / 1e6
        fn = {"YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
              "HOURS": F.hour, "MINUTES": F.minute}[name]
        return fn(ts)
    if name == "TZ":
        # timezone suffix of the literal's lexical form ("Z", "+05:00",
        # or "" when absent — epoch-millis melt encodings have none)
        return F.regexp_extract(rec(a[0], "str"), r"(Z|[+-]\d{2}:\d{2})$", 1)
    if name in ("UUID", "STRUUID"):
        u = F.expr("uuid()")
        return F.concat(F.lit("urn:uuid:"), u) if name == "UUID" else u
    if name == "LANGMATCHES":
        # language tags are stripped at ingest so LANG yields "" — the
        # general basic-filtering rule still compiles: "*" matches any
        # non-empty tag; otherwise exact tag or prefix-with-hyphen,
        # case-insensitive
        tag = F.lower(rec(a[0], "str"))
        rng = F.lower(rec(a[1], "str"))
        return F.when(rng == "*", tag != "").otherwise(
            (tag == rng) | tag.startswith(F.concat(rng, F.lit("-")))
        )
    if name in ("STRLANG", "STRDT"):
        # annotations are stripped at ingest (sources/nquads.py:7-9);
        # constructing an annotated literal keeps the lexical form
        return rec(a[0], "str")
    if name == "IF":
        return F.when(rec(a[0], "bool"), rec(a[1])).otherwise(rec(a[2]))
    if name == "COALESCE":
        return F.coalesce(*[rec(x) for x in a])
    if name == "BOUND":
        return rec(a[0]).isNotNull()
    if name in ("ISIRI", "ISURI"):
        return is_iri(rec(a[0], "str"))
    if name == "ISLITERAL":
        return ~is_iri(rec(a[0], "str"))
    if name == "ISNUMERIC":
        return rec(a[0], "num").isNotNull()
    if name == "ISBLANK":
        return rec(a[0], "str").startswith("_:")
    if name == "SAMETERM":
        return rec(a[0]).eqNullSafe(rec(a[1]))
    if name == "IN":
        target = a[0]
        w = "num" if any(is_numericish(x) for x in a[1:]) else None
        t = rec(target, w)
        cond = F.lit(False)
        for x in a[1:]:
            cond = cond | (t == rec(x, w))
        return cond
    if name == "MD5":
        return F.md5(rec(a[0], "str"))
    if name == "SHA1":
        return F.sha1(rec(a[0], "str"))
    if name == "SHA256":
        return F.sha2(rec(a[0], "str"), 256)
    if name == "RAND":
        return F.rand()
    if name == "NOW":
        return F.current_timestamp()

    raise ValueError(f"unknown function {name!r} (not a builtin, not in registry)")


def compile_aggregate(e: ECall) -> Column:
    """Compile an aggregate call to a Spark aggregate Column."""

    def rec(x: Expr, w: str | None = None) -> Column:
        return compile_expr(x, w)

    name = e.name
    if name == "COUNT_STAR":
        return F.count(F.lit(1))
    if name == "COUNT":
        c = rec(e.args[0])
        return F.countDistinct(c) if e.distinct else F.count(c)
    if name == "SUM":
        c = rec(e.args[0], "num")
        return F.sum_distinct(c) if e.distinct else F.sum(c)
    if name == "AVG":
        c = rec(e.args[0], "num")
        return F.avg(c)
    if name == "MIN":
        return F.min(rec(e.args[0]))
    if name == "MAX":
        return F.max(rec(e.args[0]))
    if name == "SAMPLE":
        # SPARQL allows ANY value; min is a legal choice and, unlike
        # first(), deterministic across partitionings and retries — the
        # rest of the engine guarantees reproducible results, SAMPLE
        # should not be the one exception
        return F.min(rec(e.args[0]))
    if name == "GROUP_CONCAT":
        # sorted for determinism (SPARQL leaves the order undefined;
        # a stable order makes results reproducible and oracle-checkable)
        sep = e.extra if e.extra is not None else " "
        return F.concat_ws(sep, F.sort_array(F.collect_list(rec(e.args[0], "str"))))
    raise ValueError(f"unknown aggregate {name}")


def _lit_str(x: Expr) -> str:
    if isinstance(x, EStr):
        return x.value
    raise ValueError("string-literal argument required in this subset")
