"""SPARQL algebra → DataFrame plan lowering.

This is the replacement for the reference's use of Oxigraph
(src/querying/oxigraph_adapter.rs:104-148): instead of materializing each
window into an in-memory store and evaluating SPARQL there, the algebra is
lowered to a lazy DataFrame plan that Catalyst optimizes (filter pushdown
into the Parquet scan, column pruning, join reordering via AQE, broadcast
selection) and Spark executes distributed.

Scale-critical design point — ``partition_cols``: any list of extra
columns present on the quads frame (e.g. ``__window_id`` after assigning
events to sliding windows) is threaded through every scan, join and
aggregation as an implicit key.  That turns "evaluate this query once per
window" (the reference's per-window loop, historical_executor.rs:424-460)
into ONE shuffle-efficient distributed plan over all windows at once.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from janus_spark.compiler.ast import (
    Bind,
    EBin,
    ECall,
    EUn,
    EVar,
    Expr,
    Filter,
    GraphGroup,
    Group,
    InlineValues,
    Iri,
    Literal,
    MinusGroup,
    OptionalGroup,
    SelectQuery,
    Term,
    TriplePattern,
    UnionGroup,
    Var,
)
from janus_spark.compiler.expressions import compile_aggregate, compile_expr


def _alias_map(projection) -> dict:
    """alias → expression for projection items whose alias is not the
    bare variable itself ((COUNT(?e) AS ?n), (?u AS ?x))."""
    return {
        name: e
        for e, name in (projection or [])
        if not (isinstance(e, EVar) and e.name == name)
    }


def _subst_aliases(e, amap: dict):
    """Rewrite EVar references to projection aliases with the aliased
    expression (used for HAVING, which evaluates pre-projection).
    Aggregate calls are left intact — their args reference pattern vars."""
    if e is None or not amap:
        return e
    if isinstance(e, EVar):
        return amap.get(e.name, e)
    if isinstance(e, EBin):
        return EBin(e.op, _subst_aliases(e.left, amap), _subst_aliases(e.right, amap))
    if isinstance(e, EUn):
        return EUn(e.op, _subst_aliases(e.operand, amap))
    if isinstance(e, ECall) and not e.is_aggregate():
        return ECall(e.name, tuple(_subst_aliases(a, amap) for a in e.args), e.distinct, e.extra)
    return e


class _StarFrame:
    """A star of triple patterns pre-compiled to one wide-table scan
    (property-table rewrite); consumed by compile_group as an inner
    join input like any pattern."""

    def __init__(self, df: DataFrame):
        self.df = df


@dataclass
class SparqlCompiler:
    quads: DataFrame
    partition_cols: list[str] = field(default_factory=list)
    static_quads: DataFrame | None = None  # baseline/background triples (broadcast side)
    # +/* property-path closures iterate to FIXPOINT by default (the
    # semi-naive anti-join terminates on any finite graph — rounds ≤
    # longest shortest path); set an int as an explicit safety valve
    # when a bounded-depth closure is the intended semantics.
    path_max_hops: int | None = None
    # Greedy BGP join ordering (selectivity + connectivity). The reference
    # delegates join planning to Oxigraph (SURVEY §4); on Spark the
    # written pattern order becomes the initial join order.  Catalyst's
    # ReorderJoin can recover equi keys for a disconnected middle pattern,
    # but the resulting join stays Cross-typed and the rule is best-effort
    # with no selectivity notion; ordering here guarantees connected
    # equi-inner joins and seeds with the most-constant pattern so the
    # smallest intermediate comes first.
    reorder_bgp: bool = True
    # predicate IRI -> PropertyTable (sources.melt.property_registry).
    # Caller contract: every quad with a registered predicate comes from
    # that table's melt (true whenever quads = union of melt_table calls)
    # AND the quads frame carries no extra filtering the PropertyTable
    # doesn't — a star scan reads pt.df, not self.quads, so a caller who
    # pre-filtered quads (e.g. to a time window) must pre-filter the
    # PropertyTable identically or not pass it.  The engine's windowed
    # paths never pass property_tables for exactly this reason.
    property_tables: dict = field(default_factory=dict)
    # predicate IRI -> quad count (QuadStore.analyze() output, or any
    # caller-supplied stats).  Refines BGP seeding: among equally-constant
    # patterns the one over the RAREST predicate goes first, so the
    # smallest intermediate drives the join chain — the missing
    # "selectivity notion" the heuristic alone cannot have.
    predicate_stats: dict = field(default_factory=dict)
    # returns a frame of every partition_cols value to evaluate; called
    # only when a global aggregate (no GROUP BY) needs it.  A partition
    # without solutions then still gets the one row such an aggregate
    # yields over no solutions; without a domain it yields no row.
    partition_domain: Callable[[], DataFrame] | None = None

    # ------------------------------------------------------------ entry
    def compile(self, q) -> DataFrame:
        from janus_spark.compiler.ast import ConstructQuery, DescribeQuery

        if isinstance(q, ConstructQuery):
            return self.compile_construct(q)
        if isinstance(q, DescribeQuery):
            return self.compile_describe(q)
        df = self.compile_group(q.where, graph_term=None)
        if q.ask:
            # ASK: any solution exists (Q8, oxigraph_adapter.rs:183-195)
            return df.limit(1).select(F.lit(True).alias("__exists"))
        if q.has_aggregates():
            df = self._lower_aggregates(q, df)
        else:
            if q.having is not None:
                # pre-projection frame: resolve projection aliases here too
                hv = _subst_aliases(q.having, _alias_map(q.projection))
                df = df.filter(compile_expr(hv, "bool"))
            df = self._project(q, df)
        if q.distinct:
            df = df.distinct()
        if q.order_by:
            keys = [
                compile_expr(e) if asc else compile_expr(e).desc()
                for e, asc in q.order_by
            ]
            df = df.orderBy(*keys)
        if self.partition_cols and (q.limit is not None or q.offset):
            # per-window semantics: the reference applies LIMIT/OFFSET to
            # EACH window evaluation; with windows as data that becomes a
            # rank within the window partition
            from pyspark.sql import Window as W

            order = (
                [compile_expr(e).asc() if asc else compile_expr(e).desc() for e, asc in q.order_by]
                if q.order_by
                else [F.monotonically_increasing_id()]
            )
            w = W.partitionBy(*[F.col(c) for c in self.partition_cols]).orderBy(*order)
            df = df.withColumn("__rn", F.row_number().over(w))
            lo = q.offset or 0
            hi = lo + q.limit if q.limit is not None else None
            cond = F.col("__rn") > lo
            if hi is not None:
                cond = cond & (F.col("__rn") <= hi)
            df = df.filter(cond).drop("__rn")
        else:
            if q.offset:
                df = df.offset(q.offset)
            if q.limit is not None:
                df = df.limit(q.limit)
        return df

    def compile_construct(self, q) -> DataFrame:
        """CONSTRUCT: template instantiation over the solution frame —
        one select per template triple, unioned, set semantics (Q8)."""
        sol = self.compile_group(q.where, graph_term=None)

        def term_col(t, pos: str) -> Column:
            if isinstance(t, Var):
                return F.col(t.name).cast("string")
            if isinstance(t, Iri):
                return F.lit(t.value)
            return F.lit(t.lexical)

        parts = []
        for tp in q.template:
            parts.append(
                sol.select(
                    term_col(tp.s, "subject").alias("subject"),
                    term_col(tp.p, "predicate").alias("predicate"),
                    term_col(tp.o, "object").alias("object"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.dropDuplicates(["subject", "predicate", "object"])
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

    def compile_describe(self, q) -> DataFrame:
        """DESCRIBE: subject-outgoing triples of each described resource,
        set semantics.

        Plan shape: distinct described ids (tiny next to the quad log),
        then a LEFT SEMI join on subject — AQE flips it to broadcast when
        the id side is small, so the common case is one pruned quad scan
        with a broadcast membership probe."""
        ids: DataFrame | None = None
        consts = [t.value for t in q.resources if isinstance(t, Iri)]
        var_names = [t.name for t in q.resources if isinstance(t, Var)]
        if q.where is not None:
            sol = self.compile_group(q.where, graph_term=None)
            names = var_names or [c for c in sol.columns if not c.startswith("__")]
            missing = [n for n in names if n not in sol.columns]
            if missing:
                raise ValueError(f"DESCRIBE variable(s) not bound in WHERE: {missing}")
            for n in names:
                part = sol.select(F.col(n).cast("string").alias("id"))
                ids = part if ids is None else ids.unionByName(part)
        elif var_names:
            raise ValueError("DESCRIBE with variables requires a WHERE clause")
        if consts:
            cdf = self.quads.sparkSession.createDataFrame([(c,) for c in consts], ["id"])
            ids = cdf if ids is None else ids.unionByName(cdf)
        if ids is None:
            raise ValueError("empty DESCRIBE")
        ids = ids.where(F.col("id").isNotNull()).distinct()
        out = self.quads.join(ids, self.quads["subject"] == ids["id"], "semi")
        return out.select("subject", "predicate", "object").dropDuplicates()

    # ------------------------------------------------- star-join rewrite
    def _rewrite_stars(self, elements: list) -> list:
        """Replace runs of consecutive constant-predicate patterns that
        share a subject variable and map to one PropertyTable with a
        single wide scan (star-join elimination).

        Only runs of adjacent TriplePatterns are grouped (Filters pass
        through — they are deferred to group end anyway), so evaluation
        order relative to OPTIONAL/MINUS/BIND is preserved.  The rewrite
        is value-identical to the self-join plan because the melt emits
        exactly one quad per (row, column) and PropertyTable reuses the
        melt's subject/value expressions.
        """
        from janus_spark.compiler.ast import Path

        out: list = []
        run: list[TriplePattern] = []

        def flush() -> None:
            if not run:
                return
            groups: dict = {}
            rest: list[TriplePattern] = []
            for tp in run:
                pt = (
                    self.property_tables.get(tp.p.value)
                    if isinstance(tp.p, Iri)
                    else None
                )
                if (
                    pt is not None
                    and isinstance(tp.s, Var)
                    and not (isinstance(tp.o, Var) and tp.o.name == tp.s.name)
                    and all(pc in pt.df.columns for pc in self.partition_cols)
                ):
                    groups.setdefault((tp.s.name, id(pt)), []).append((pt, tp))
                else:
                    rest.append(tp)
            for (svar, _), entries in groups.items():
                if len(entries) < 2:  # no self-join to eliminate
                    rest.extend(tp for _, tp in entries)
                    continue
                out.append(_StarFrame(self._compile_star(svar, entries[0][0], [tp for _, tp in entries])))
            out.extend(rest)
            run.clear()

        for el in elements:
            if isinstance(el, TriplePattern) and not isinstance(el.p, Path):
                run.append(el)
            elif isinstance(el, Filter):
                out.append(el)  # deferred to group end; keeps the run alive
            else:
                flush()
                out.append(el)
        flush()
        return out

    def _compile_star(self, svar: str, pt, tps: list[TriplePattern]) -> DataFrame:
        conds: list[Column] = []
        cols: dict[str, Column] = {svar: pt.subject}
        for tp in tps:
            val = pt.values[tp.p.value]
            # the melt emits no quad for a NULL value — inner-join semantics
            conds.append(val.isNotNull())
            if isinstance(tp.o, Var):
                if tp.o.name in cols:
                    conds.append(val == cols[tp.o.name])
                else:
                    cols[tp.o.name] = val
            elif isinstance(tp.o, Iri):
                conds.append(val == tp.o.value)
            else:
                conds.append(val == tp.o.lexical)
        df = pt.df
        for c in conds:
            df = df.where(c)
        sel = [F.col(pc) for pc in self.partition_cols]
        sel += [expr.alias(name) for name, expr in cols.items()]
        return df.select(*sel)

    # ------------------------------------------------------------ group
    def compile_group(self, g: Group, graph_term: Term | None) -> DataFrame:
        df: DataFrame | None = None
        filters: list[Expr] = []
        elements = g.elements
        if (
            self.property_tables
            and graph_term is None
            and self.static_quads is None
        ):
            # partition_cols are allowed when the property table carries
            # them (window-tagged PTs from run_historical_sliding); the
            # per-pattern check in _rewrite_stars enforces it
            elements = self._rewrite_stars(elements)
        if self.reorder_bgp:
            elements = self._reorder_runs(elements)
        for el in elements:
            if isinstance(el, _StarFrame):
                df = self._merge(df, el.df, "inner")
            elif isinstance(el, TriplePattern):
                df = self._merge(df, self._scan(el, graph_term), "inner")
            elif isinstance(el, Filter):
                filters.append(el.expr)
            elif isinstance(el, Bind):
                if df is None:
                    raise ValueError("BIND before any pattern is unsupported")
                df = df.withColumn(el.var, compile_expr(el.expr))
            elif isinstance(el, OptionalGroup):
                right = self.compile_group(el.group, graph_term)
                df = self._merge(df, right, "left")
            elif isinstance(el, UnionGroup):
                branches = [self.compile_group(b, graph_term) for b in el.branches]
                u = branches[0]
                for b in branches[1:]:
                    u = u.unionByName(b, allowMissingColumns=True)
                df = self._merge(df, u, "inner")
            elif isinstance(el, MinusGroup):
                right = self.compile_group(el.group, graph_term)
                if df is None:
                    raise ValueError("MINUS before any pattern is unsupported")
                shared = [c for c in df.columns if c in set(right.columns)]
                key_only = [c for c in shared if c not in self.partition_cols]
                if key_only:
                    df = df.join(right.select(*shared).distinct(), on=shared, how="left_anti")
            elif isinstance(el, GraphGroup):
                sub = self.compile_group(el.group, el.term)
                df = self._merge(df, sub, "inner")
            elif isinstance(el, Group):
                df = self._merge(df, self.compile_group(el, graph_term), "inner")
            elif type(el).__name__ == "SubSelect":
                df = self._merge(df, self.compile(el.query), "inner")
            elif isinstance(el, InlineValues):
                df = self._merge_values(df, el)
            else:
                raise ValueError(f"unsupported group element {type(el).__name__}")
        if df is None:
            raise ValueError("empty group pattern")
        for fexpr in filters:
            df = self._apply_filter(df, fexpr, graph_term)
        return df

    def _apply_filter(self, df: DataFrame, fexpr, graph_term) -> DataFrame:
        """FILTER application; [NOT] EXISTS compiles to a semi/anti join on
        the shared variables instead of a Column predicate."""
        from janus_spark.compiler.ast import EExists, EUn

        if isinstance(fexpr, EExists):
            right = self.compile_group(fexpr.group, graph_term)
            shared = [c for c in df.columns if c in set(right.columns)]
            if not shared:
                # var-free EXISTS: keep all rows iff the inner group has
                # any solution (cross join with a 1-row/0-row frame)
                return df.join(right.limit(1), how="cross").select(df.columns)
            return df.join(right.select(*shared).distinct(), on=shared, how="left_semi")
        if isinstance(fexpr, EUn) and fexpr.op == "!" and isinstance(fexpr.operand, EExists):
            right = self.compile_group(fexpr.operand.group, graph_term)
            shared = [c for c in df.columns if c in set(right.columns)]
            if not shared:
                # var-free NOT EXISTS: the inner pattern is existentially
                # quantified independent of the outer row — any solution
                # anywhere falsifies it for EVERY row (anti join against a
                # 1-row probe; empty inner group keeps everything)
                probe = right.limit(1).select(F.lit(1).alias("__e"))
                return df.join(probe, on=F.lit(True), how="left_anti")
            return df.join(right.select(*shared).distinct(), on=shared, how="left_anti")
        return df.filter(compile_expr(fexpr, "bool"))

    # ------------------------------------------------------- path scans
    def _path_relation(self, path, graph_term: Term | None) -> DataFrame:
        """Compile a property path to a (__ps, __po) node-pair relation.

        Closures (``+``/``*``) expand by iterative distributed semi-naive
        joins: each round joins the frontier with the base relation and
        anti-joins already-seen pairs, stopping at FIXPOINT (default —
        complete on any finite graph, any diameter) or after
        ``path_max_hops`` rounds when a cap is set explicitly (the
        reference never exercises paths at all).
        """
        from janus_spark.compiler.ast import Path

        pc = self.partition_cols

        def base_scan(iri: str) -> DataFrame:
            src = self.quads
            cond = F.col("predicate") == iri
            if isinstance(graph_term, Iri):
                cond = cond & (F.col("graph") == graph_term.value)
            cols = [F.col("subject").alias("__ps"), F.col("object").alias("__po")]
            cols += [F.col(c) for c in pc]
            return src.filter(cond).select(*cols)

        def rel(p) -> DataFrame:
            if p.op == "link":
                return base_scan(p.iri)
            if p.op == "negset":
                # any-predicate scan minus the excluded links (forward only)
                src = self.quads
                cond = ~F.col("predicate").isin([l.iri for l in p.parts])
                if isinstance(graph_term, Iri):
                    cond = cond & (F.col("graph") == graph_term.value)
                return src.filter(cond).select(
                    F.col("subject").alias("__ps"), F.col("object").alias("__po"),
                    *[F.col(c) for c in pc],
                )
            if p.op == "opt":
                # zero-or-one: child pairs ∪ zero-length identity over the
                # child's nodes (same bounded identity domain as star)
                base = rel(p.parts[0])
                nodes = (
                    base.select(F.col("__ps").alias("__n"), *[F.col(c) for c in pc])
                    .unionByName(base.select(F.col("__po").alias("__n"), *[F.col(c) for c in pc]))
                    .dropDuplicates(["__n", *pc])
                )
                ident = nodes.select(
                    F.col("__n").alias("__ps"), F.col("__n").alias("__po"),
                    *[F.col(c) for c in pc],
                )
                return base.unionByName(ident).dropDuplicates(["__ps", "__po", *pc])
            if p.op == "inv":
                r = rel(p.parts[0])
                return r.select(
                    F.col("__po").alias("__ps"), F.col("__ps").alias("__po"),
                    *[F.col(c) for c in pc],
                )
            if p.op == "alt":
                out = rel(p.parts[0])
                for b in p.parts[1:]:
                    out = out.unionByName(rel(b))
                return out
            if p.op == "seq":
                out = rel(p.parts[0])
                for step in p.parts[1:]:
                    right = rel(step).select(
                        F.col("__ps").alias("__mid"), F.col("__po").alias("__po2"),
                        *[F.col(c).alias(f"__r_{c}") for c in pc],
                    )
                    cond = out["__po"] == right["__mid"]
                    for c in pc:
                        cond = cond & (out[c] == right[f"__r_{c}"])
                    out = out.join(right, on=cond, how="inner").select(
                        out["__ps"], right["__po2"].alias("__po"),
                        *[out[c] for c in pc],
                    )
                return out
            if p.op in ("plus", "star"):
                # semi-naive iteration; localCheckpoint truncates lineage
                # each round (without it the plan DAG doubles per hop and
                # recompute cost explodes)
                base = rel(p.parts[0]).dropDuplicates(["__ps", "__po", *pc]).localCheckpoint(eager=True)
                acc = base
                frontier = base
                hops = 0
                while True:
                    right = base.select(
                        F.col("__ps").alias("__mid"), F.col("__po").alias("__po2"),
                        *[F.col(c).alias(f"__r_{c}") for c in pc],
                    )
                    cond = frontier["__po"] == right["__mid"]
                    for c in pc:
                        cond = cond & (frontier[c] == right[f"__r_{c}"])
                    nxt = (
                        frontier.join(right, on=cond, how="inner")
                        .select(frontier["__ps"], right["__po2"].alias("__po"), *[frontier[c] for c in pc])
                        .dropDuplicates(["__ps", "__po", *pc])
                        .join(acc, on=["__ps", "__po", *pc], how="left_anti")
                    ).localCheckpoint(eager=True)
                    if nxt.isEmpty():
                        break
                    acc = acc.unionByName(nxt).localCheckpoint(eager=True)
                    frontier = nxt
                    hops += 1
                    if self.path_max_hops is not None and hops >= self.path_max_hops:
                        break
                if p.op == "star":
                    # zero-length: identity over nodes of the base relation
                    nodes = (
                        base.select(F.col("__ps").alias("__n"), *[F.col(c) for c in pc])
                        .unionByName(base.select(F.col("__po").alias("__n"), *[F.col(c) for c in pc]))
                        .dropDuplicates(["__n", *pc])
                    )
                    ident = nodes.select(
                        F.col("__n").alias("__ps"), F.col("__n").alias("__po"),
                        *[F.col(c) for c in pc],
                    )
                    acc = acc.unionByName(ident).dropDuplicates(["__ps", "__po", *pc])
                return acc
            raise ValueError(f"unknown path op {p.op}")

        return rel(path)

    def _scan_path(self, tp: TriplePattern, graph_term: Term | None) -> DataFrame:
        rel = self._path_relation(tp.p, graph_term)
        conds: list[Column] = []
        proj: dict[str, str] = {}
        for pos, term in (("__ps", tp.s), ("__po", tp.o)):
            if isinstance(term, Iri):
                conds.append(F.col(pos) == term.value)
            elif isinstance(term, Literal):
                conds.append(F.col(pos) == term.lexical)
            else:
                if term.name in proj:
                    conds.append(F.col(pos) == F.col(proj[term.name]))
                else:
                    proj[term.name] = pos
        out = rel
        for c in conds:
            out = out.filter(c)
        cols = [F.col(c) for c in self.partition_cols]
        cols += [F.col(src).alias(var) for var, src in proj.items()]
        return out.select(*cols)

    # ------------------------------------------------------------ scans
    def _scan(self, tp: TriplePattern, graph_term: Term | None) -> DataFrame:
        from janus_spark.compiler.ast import Path

        if isinstance(tp.p, Path):
            return self._scan_path(tp, graph_term)
        src = self.quads
        if self.static_quads is not None:
            # static/baseline triples are visible alongside window quads
            # (reference inserts them into the evaluation store,
            # live_stream_processing.rs:509-530); static side is tiny.
            # Untagged static rows would join no partition, so refuse
            # them rather than return an empty result.
            missing = [pc for pc in self.partition_cols if pc not in self.static_quads.columns]
            if missing:
                raise ValueError(f"static quads lack partition column(s) {missing}")
            src = src.unionByName(self.static_quads, allowMissingColumns=False)
        conds: list[Column] = []
        proj: dict[str, str] = {}  # var name -> source column
        for pos, term in (("subject", tp.s), ("predicate", tp.p), ("object", tp.o)):
            if isinstance(term, Iri):
                conds.append(F.col(pos) == term.value)
            elif isinstance(term, Literal):
                conds.append(F.col(pos) == term.lexical)
            else:
                if term.name in proj:
                    conds.append(F.col(pos) == F.col(proj[term.name]))
                else:
                    proj[term.name] = pos
        if graph_term is not None:
            if isinstance(graph_term, Iri):
                conds.append(F.col("graph") == graph_term.value)
            elif isinstance(graph_term, Var) and graph_term.name not in proj:
                proj[graph_term.name] = "graph"
        out = src
        for c in conds:
            out = out.filter(c)
        # partition columns lead, so joins and streaming state stores
        # key on (partition, …)
        cols = [F.col(pc) for pc in self.partition_cols]
        cols += [F.col(srccol).alias(var) for var, srccol in proj.items()]
        return out.select(*cols)

    def _values_frame(self, v: InlineValues) -> DataFrame:
        spark = self.quads.sparkSession
        rows = [tuple(str(x) if x is not None else None for x in row) for row in v.rows]
        return spark.createDataFrame(rows, schema=v.var_names)

    def _merge_values(self, left: DataFrame | None, v: InlineValues) -> DataFrame:
        """Join a VALUES block by SPARQL solution COMPATIBILITY, not plain
        equality: an UNDEF (null) binding on either side matches anything
        and the merged solution takes the defined value.  A plain
        equi-join silently drops every UNDEF row (null never equals).
        UNDEF-free blocks keep the equi-join fast path; blocks with
        UNDEF use a compound-condition join — VALUES tables are tiny, so
        the broadcast nested loop this plans to is a few rows wide."""
        vf = self._values_frame(v)
        if left is None:
            return vf
        shared = [c for c in left.columns if c in set(vf.columns)]
        has_undef = any(x is None for row in v.rows for x in row)
        if not shared or not has_undef:
            return self._merge(left, vf, "inner")
        cond = F.lit(True)
        for c in shared:
            cond = cond & (left[c].isNull() | vf[c].isNull() | (left[c] == vf[c]))
        joined = left.join(vf, on=cond, how="inner")
        cols = [
            F.coalesce(left[c], vf[c]).alias(c) if c in shared else left[c]
            for c in left.columns
        ]
        cols += [vf[c] for c in vf.columns if c not in shared]
        return joined.select(*cols)

    # ------------------------------------------------------------ joins
    # ------------------------------------------------ BGP join ordering
    @staticmethod
    def _pattern_vars(tp: TriplePattern) -> set:
        return {t.name for t in (tp.s, tp.p, tp.o) if isinstance(t, Var)}

    def _order_patterns(self, pats: list) -> list:
        """Greedy ordering of one BGP run: seed with the most-constant
        (most selective) pattern, then always extend through a shared
        variable when one exists — equi-joins instead of cartesians.
        Inner joins commute, so any order is semantics-preserving; ties
        keep written order (deterministic plans)."""
        if len(pats) <= 1:
            return pats

        def score(tp: TriplePattern):
            const = sum(0 if isinstance(t, Var) else 1 for t in (tp.s, tp.p, tp.o))
            # among equal constant counts: prefer the rarest predicate per
            # ANALYZE stats.  A Var predicate matches ALL predicates (the
            # largest scan) so it ranks least preferred; a constant
            # predicate absent from stats matched 0 quads at ANALYZE time
            # (the most selective) so it ranks most preferred.  Stable
            # (all 0.0) when no stats exist.
            rarity = 0.0
            if self.predicate_stats:
                if isinstance(tp.p, Var):
                    rarity = float("-inf")
                else:
                    rarity = -float(
                        self.predicate_stats.get(getattr(tp.p, "value", None), 0)
                    )
            return (const, rarity)

        remaining = list(range(len(pats)))
        seed = max(remaining, key=lambda i: (score(pats[i]), -i))
        order = [seed]
        remaining.remove(seed)
        bound = set(self._pattern_vars(pats[seed]))
        while remaining:
            connected = [i for i in remaining if self._pattern_vars(pats[i]) & bound]
            pool = connected or remaining  # no connection anywhere ⇒ true product
            nxt = max(pool, key=lambda i: (score(pats[i]), -i))
            order.append(nxt)
            remaining.remove(nxt)
            bound |= self._pattern_vars(pats[nxt])
        return [pats[i] for i in order]

    def _reorder_runs(self, elements: list) -> list:
        """Reorder each maximal run of consecutive triple patterns; every
        other element kind (BIND, OPTIONAL, star frames, …) is a barrier
        because it is order-sensitive or already pre-joined."""
        out: list = []
        run: list = []
        for el in elements:
            if isinstance(el, TriplePattern):
                run.append(el)
            else:
                if run:
                    out.extend(self._order_patterns(run))
                    run = []
                out.append(el)
        if run:
            out.extend(self._order_patterns(run))
        return out

    def _merge(self, left: DataFrame | None, right: DataFrame, how: str) -> DataFrame:
        if left is None:
            return right
        shared = [c for c in left.columns if c in set(right.columns)]
        if shared:
            return left.join(right, on=shared, how=how)
        if how == "inner":
            return left.crossJoin(right)
        lk = left.withColumn("__one", F.lit(1))
        rk = right.withColumn("__one", F.lit(1))
        return lk.join(rk, on="__one", how="left").drop("__one")

    # ------------------------------------------------------- aggregates
    def _lower_aggregates(self, q: SelectQuery, df: DataFrame) -> DataFrame:
        # HAVING may reference a projection alias (HAVING ?n > 5 for
        # (COUNT(?e) AS ?n)), but it runs BEFORE the projection select —
        # substitute the aliased expression so its aggregate lowers to an
        # __aggN column like any other
        having = _subst_aliases(q.having, _alias_map(q.projection))
        agg_calls: dict[ECall, str] = {}

        def collect(e: Expr) -> None:
            if isinstance(e, ECall):
                if e.is_aggregate():
                    if e not in agg_calls:
                        agg_calls[e] = f"__agg{len(agg_calls)}"
                else:
                    for x in e.args:
                        collect(x)
            elif isinstance(e, EBin):
                collect(e.left)
                collect(e.right)
            elif isinstance(e, EUn):
                collect(e.operand)

        for e, _ in q.projection or []:
            collect(e)
        if having is not None:
            collect(having)
        for e, _ in q.order_by:
            collect(e)

        group_cols: list[str] = []
        for e, alias in q.group_by:
            if isinstance(e, EVar) and alias is None:
                group_cols.append(e.name)
            else:
                name = alias or f"__grp{len(group_cols)}"
                df = df.withColumn(name, compile_expr(e))
                group_cols.append(name)
        all_group = [c for c in self.partition_cols if c not in group_cols] + group_cols

        aggs = [compile_aggregate(call).alias(name) for call, name in agg_calls.items()]
        if not aggs:
            aggs = [F.count(F.lit(1)).alias("__agg_dummy")]
        if not all_group:
            df = df.agg(*aggs)
        elif group_cols or self.partition_domain is None:
            df = df.groupBy(*all_group).agg(*aggs)
        else:
            # global aggregate per partition: a domain partition without
            # solutions takes the row of the aggregate over no solutions
            pc = self.partition_cols
            hit = df.groupBy(*pc).agg(*aggs, F.lit(True).alias("__hit"))
            empty = df.where(F.lit(False)).agg(*aggs)
            names = empty.columns
            empty = empty.select(*[F.col(n).alias(f"__empty{n}") for n in names])
            df = self.partition_domain().join(hit, on=pc, how="left").crossJoin(empty).select(
                *pc,
                *[F.when(F.col("__hit"), F.col(n)).otherwise(F.col(f"__empty{n}")).alias(n) for n in names],
            )

        if having is not None:
            df = df.filter(compile_expr(having, "bool", agg_map=agg_calls))

        if q.projection is None:
            return df.drop("__agg_dummy")
        cols = [
            compile_expr(e, agg_map=agg_calls).alias(name)
            for e, name in q.projection
        ]
        cols += [F.col(pc) for pc in self.partition_cols if pc not in [n for _, n in q.projection]]
        return df.select(*cols)

    # ------------------------------------------------------- projection
    def _project(self, q: SelectQuery, df: DataFrame) -> DataFrame:
        if q.projection is None:  # SELECT *
            return df
        cols = [compile_expr(e).alias(name) for e, name in q.projection]
        cols += [F.col(pc) for pc in self.partition_cols if pc not in [n for _, n in q.projection]]
        return df.select(*cols)


def compile_sparql(
    q: SelectQuery,
    quads: DataFrame,
    partition_cols: list[str] | None = None,
    static_quads: DataFrame | None = None,
    property_tables: dict | None = None,
    reorder_bgp: bool = True,
    path_max_hops: int | None = None,
    predicate_stats: dict | None = None,
    partition_domain: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    return SparqlCompiler(
        quads,
        partition_cols or [],
        static_quads,
        property_tables=property_tables or {},
        reorder_bgp=reorder_bgp,
        path_max_hops=path_max_hops,
        predicate_stats=predicate_stats or {},
        partition_domain=partition_domain,
    ).compile(q)
