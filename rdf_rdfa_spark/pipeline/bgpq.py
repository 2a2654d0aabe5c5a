"""Distributed basic-graph-pattern evaluation over the triple store:
``bgp_select`` evaluates ONE SPARQL WHERE group (triple patterns,
property paths, OPTIONAL, MINUS, FILTER [NOT] EXISTS, FILTER, BIND,
VALUES, subselects) to its DISTINCT solutions.  The query forms and
solution modifiers (projection of aggregates, ORDER BY / LIMIT /
OFFSET, UNION, ASK, CONSTRUCT, DESCRIBE) live in :mod:`.sparql`.

A BGP compiles to relational algebra: each triple pattern is a
filtered projection of the triples table with its variables as
columns; patterns join on shared variables (Catalyst then reorders /
broadcasts as stats dictate — the plan is fully declarative). That is
exactly how SPARQL engines over columnar stores execute (property
tables aside), and on the subject-bucketed store a constant subject
scans only its bucket's row groups.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F

from .materialize import subject_bucket

_POSITIONS = ("subj", "pred", "obj")


def var(name: str):
    """A pattern variable."""
    return ("var", name)


def lit(value: str, lang: str | None = None,
        datatype: str | None = None):
    """A TAGGED literal constant for object position: matches the
    lexical form AND the store's lang/datatype metadata columns
    ("chat"@fr / "5"^^xsd:integer).  Plain strings keep matching
    lexically only."""
    return ("lit", value, lang, datatype)


# --- property paths (SPARQL 1.1 §9) -------------------------------------
# A path evaluates from a FRONTIER of (seed, n) rows to the (seed, n)
# rows one application of the path reaches — SPARQL 1.1 §9.3 defines
# arbitrary-length paths from a start node, which is this shape.  A
# bound endpoint seeds the frontier with (term, term), so the work is
# proportional to the set reachable from it, never the full closure; a
# bound OBJECT runs the inverted path forward.  A ``None`` frontier is
# unseeded: a step from it yields the path's whole edge relation, so a
# pattern with two free endpoints runs through the same evaluator.
# Closures (p+ / p*) are solved on the driver when they fit (``_closure``),
# else by one semi-naive loop, lineage truncated per round with a lazy
# localCheckpoint.

class Path:
    __slots__ = ("op", "parts")

    def __init__(self, op: str, parts):
        self.op = op
        self.parts = parts

    def __eq__(self, other):  # by value: ^(…) re-inverts every round
        return isinstance(other, Path) and (
            self.op, self.parts) == (other.op, other.parts)

    def __hash__(self):
        return hash((self.op, self.parts))


def seq(*parts) -> Path:
    """p1/p2/... — sequence path."""
    return Path("seq", parts)


def alt(*parts) -> Path:
    """p1|p2|... — alternative path."""
    return Path("alt", parts)


def inv(part) -> Path:
    """^p — inverse path."""
    return Path("inv", (part,))


def one_or_more(part) -> Path:
    """p+ — transitive closure."""
    return Path("plus", (part,))


def zero_or_more(part) -> Path:
    """p* — reflexive-transitive closure.  The zero-length component
    relates a bound term to itself, and with both endpoints free every
    graph node (distinct subj/obj term) to itself."""
    return Path("star", (part,))


def zero_or_one(part) -> Path:
    """p? — optional single step."""
    return Path("opt", (part,))


def negated(*preds, inverse=()) -> Path:
    """!(p1|p2|^q1|...) — negated property set (SPARQL 1.1 §9.1):
    ``preds`` are the forward members, ``inverse`` the ^-prefixed
    ones.  Per spec the result is the union of one forward step whose
    predicate is outside the forward set and one REVERSED step whose
    predicate is outside the inverse set (each component only present
    when its member list is — a pure-inverse set matches only
    reversed edges)."""
    for p in (*preds, *inverse):
        if not isinstance(p, str):
            raise ValueError(
                "negated property set members must be plain "
                "predicate IRIs")
    parts = []
    if preds or not inverse:
        parts.append(Path("neg", tuple(preds)))
    if inverse:
        parts.append(Path("inv", (Path("neg", tuple(inverse)),)))
    return parts[0] if len(parts) == 1 else Path("alt", tuple(parts))


#: the most rows a closure collects or reaches on the driver: on a
#: 4-core host 10⁵ IRI pairs collect in ~0.7 s and solve in 0.5-2 s
#: (~0.2 GB RSS), about two distributed rounds of ~0.6 s scheduling
_DRIVER_EDGES = 100_000


def _invert(path):
    """Path → its inverse, pushed to the leaves (``inv`` of a bare
    predicate), so seeding from the object endpoint reuses the forward
    frontier machinery unchanged."""
    if isinstance(path, str):
        return Path("inv", (path,))
    if path.op == "inv":
        return path.parts[0]
    if path.op in ("neg", "neginv"):
        return Path("neginv" if path.op == "neg" else "neg", path.parts)
    if path.op == "seq":
        return Path("seq", tuple(_invert(p) for p in reversed(path.parts)))
    if path.op == "alt":
        return Path("alt", tuple(_invert(p) for p in path.parts))
    # plus / star / opt commute with inversion
    return Path(path.op, (_invert(path.parts[0]),))


def _hop(frontier, rows: DataFrame, forward: bool) -> DataFrame:
    """One edge step over the triples ``rows`` (already filtered by
    predicate) from ``frontier``; unseeded, the edge relation itself."""
    src, dst = ("subj", "obj") if forward else ("obj", "subj")
    if frontier is None:
        return (rows.select(F.col(src).alias("seed"), F.col(dst).alias("n"))
                .distinct())
    e = rows.select(F.col(src).alias("_s"), F.col(dst).alias("_o"))
    return (frontier.join(e, frontier["n"] == e["_s"])
            .select("seed", F.col("_o").alias("n")).distinct())


def _identity(triples: DataFrame, frontier) -> DataFrame:
    """The zero-length step: the frontier itself; unseeded, every graph
    node (distinct subj/obj term) paired with itself."""
    if frontier is not None:
        return frontier.distinct()
    nodes = (triples.select(F.col("subj").alias("n"))
             .unionByName(triples.select(F.col("obj").alias("n")))
             .distinct())
    return nodes.select(F.col("n").alias("seed"), "n")


def _step(triples: DataFrame, path, frontier, fitted=None) -> DataFrame:
    """Apply ``path`` once from ``frontier`` (seed, n) → (seed, n);
    ``frontier=None`` is unseeded and yields the path's full edge
    relation.  Bare predicates join the frontier against a
    pred-filtered scan; closures run ``_closure`` (``fitted``)."""
    if isinstance(path, str) or (isinstance(path, Path)
                                 and path.op == "inv"
                                 and isinstance(path.parts[0], str)):
        forward = isinstance(path, str)
        pred = path if forward else path.parts[0]
        return _hop(frontier, triples.filter(F.col("pred") == pred),
                    forward)
    if not isinstance(path, Path):
        raise TypeError("not a path: %r" % (path,))
    if path.op == "inv":
        return _step(triples, _invert(path.parts[0]), frontier, fitted)
    if path.op == "seq":
        if not path.parts:
            raise ValueError("empty seq path")
        cur = frontier
        for part in path.parts:
            cur = _step(triples, part, cur, fitted)
        return cur
    if path.op == "alt":
        outs = [_step(triples, p, frontier, fitted) for p in path.parts]
        out = outs[0]
        for nxt in outs[1:]:
            out = out.unionByName(nxt)
        return out.distinct()
    if path.op in ("plus", "star"):
        return _closure(triples, path.parts[0], frontier,
                        reflexive=path.op == "star", fitted=fitted)
    if path.op == "opt":
        return (_identity(triples, frontier)
                .unionByName(_step(triples, path.parts[0], frontier, fitted))
                .distinct())
    if path.op in ("neg", "neginv"):
        return _hop(frontier,
                    triples.filter(~F.col("pred").isin(list(path.parts))),
                    path.op == "neg")
    raise ValueError("unknown path op %r" % path.op)


def _fits(df: DataFrame):
    """``df``'s rows if at most ``_DRIVER_EDGES``, else None (one bounded
    collect: a relation too big ships ``_DRIVER_EDGES + 1`` rows)."""
    rows = df.limit(_DRIVER_EDGES + 1).collect()
    return rows if len(rows) <= _DRIVER_EDGES else None


def _reach(spark, edges, starts):
    """(seed, n) rows one or more ``edges`` steps from ``starts``, by a
    driver BFS per start node; None once rows or BFS sets pass
    ``_DRIVER_EDGES`` (few edges can reach quadratically many pairs)."""
    succ: dict = {}
    for s, o in edges:
        succ.setdefault(s, []).append(o)
    memo: dict = {}
    out, held = set(), 0
    for seed, start in starts:
        if start not in memo:
            seen, todo = set(), [start]
            while todo:
                for o in succ.get(todo.pop(), ()):
                    if o not in seen:
                        seen.add(o)
                        todo.append(o)
            memo[start] = seen
            held += len(seen)
        out.update((seed, n) for n in memo[start])
        if max(len(out), held) > _DRIVER_EDGES:
            return None
    return spark.createDataFrame(list(out), "seed string, n string")


def _closure(triples: DataFrame, inner, seeds, reflexive: bool,
             max_iters: int = 64, fitted=None) -> DataFrame:
    """``inner``+ (``inner``* when ``reflexive``) from ``seeds``.

    If the inner edge relation, the frontier and the rows reached each
    fit in ``_DRIVER_EDGES``, it is solved on the driver: no rounds, but
    the whole edge relation is read, whatever the seeds.  Otherwise
    semi-naive BFS, whose work is ∝ edges of the reachable component
    over its diameter + 1 rounds.  ``fitted`` maps each inner path this
    evaluation has sized to its edges (None: too big), so a closure
    nested in another's rounds is sized once, not once per round."""
    if seeds is not None:
        seeds = seeds.distinct().localCheckpoint(eager=False)
    fitted = {} if fitted is None else fitted
    if inner not in fitted:
        fitted[inner] = _fits(_step(triples, inner, None, fitted))
    edges = fitted[inner]
    starts = None if edges is None else (
        {(s, s) for s, _o in edges} if seeds is None else _fits(seeds))
    visited = (None if starts is None
               else _reach(triples.sparkSession, edges, starts))
    if visited is None:
        visited = _semi_naive(triples, inner, seeds, max_iters, fitted)
    if reflexive:
        # zero-length: a SEED relates to itself, even without edges
        # (SPARQL zero-length-path semantics for a bound term)
        visited = visited.unionByName(_identity(triples, seeds)).distinct()
    return visited


def _semi_naive(triples: DataFrame, inner, seeds, max_iters: int,
                fitted=None) -> DataFrame:
    """The distributed closure loop: per round one frontier ⋈ edges
    shuffle and one anti-join against the visited set (unseeded, round
    one is the edge relation); ValueError if still growing at the cap."""
    visited = None
    frontier = seeds
    n_new = 1
    for _ in range(max_iters):
        step = _step(triples, inner, frontier, fitted)
        if visited is not None:
            step = step.join(visited, ["seed", "n"], "left_anti")
        step = step.localCheckpoint(eager=False)
        n_new = step.count()
        if n_new == 0:
            break
        visited = (step if visited is None
                   else visited.unionByName(step)
                   .localCheckpoint(eager=False))
        frontier = step
    if n_new != 0:
        # truncating would silently return WRONG (partial) answers —
        # a graph with diameter beyond the cap must fail loudly
        raise ValueError(
            "path closure did not converge within %d rounds (frontier "
            "still growing) — raise max_iters for graphs of this "
            "diameter" % max_iters)
    return step if visited is None else visited  # round one empty: ∅


def _endpoint_seeds(term, seeded):
    """A path endpoint's seed set: a constant is a one-element set, a
    variable VALUES binds to constants is that set, otherwise None
    (a free endpoint)."""
    if not isinstance(term, tuple):
        return [term]
    return (seeded or {}).get(term[1])


def _seeds(triples: DataFrame, terms) -> DataFrame:
    """Constant start terms → the frontier pairing each with itself."""
    return triples.sparkSession.createDataFrame(
        [(t, t) for t in terms], "seed string, n string")


def _bind_path(reach: DataFrame, seed_term, n_term) -> DataFrame:
    """(seed, n) path rows → solutions over the pattern's endpoint
    terms: a variable binds its column (a repeated one filters to
    equality), a constant filters it (0 columns when both are)."""
    proj, seen = [], {}
    for col, term in (("seed", seed_term), ("n", n_term)):
        if not isinstance(term, tuple):
            reach = reach.filter(F.col(col) == F.lit(term))
            continue
        name = _check_var_name(term[1])
        if name in seen:
            reach = reach.filter(F.col(col) == F.col(seen[name]))
        else:
            seen[name] = col
            proj.append(F.col(col).alias(name))
    return reach.select(*proj).distinct()


# object-term metadata columns (present in the extraction/store
# schema): a variable bound in OBJECT position carries them along as
# <var>__lang / <var>__dt / <var>__kind, so FILTERs can test
# LANG()/DATATYPE()/isIRI().  Metadata never joins (term equality in
# this engine is lexical) and is stripped from final output.
_META_SRC = (("lang", "__lang"), ("datatype", "__dt"),
             ("obj_kind", "__kind"))

# reserved metadata suffixes: ONLY these mark a column as metadata —
# a user variable like ?a__b is an ordinary variable (joins, selects)
_META_SUFFIXES = tuple(sfx for _src, sfx in _META_SRC)


def has_term_meta(df: DataFrame) -> bool:
    """Does ``df`` carry the store's lang/datatype/obj_kind columns?"""
    return all(src in df.columns for src, _sfx in _META_SRC)


def _is_meta(col_name: str) -> bool:
    return col_name.endswith(_META_SUFFIXES)


def _check_var_name(name: str) -> str:
    if _is_meta(name):
        raise ValueError(
            "variable name %r ends with a reserved metadata suffix "
            "(%s)" % (name, "/".join(_META_SUFFIXES)))
    return name


def _pattern_df(triples: DataFrame, s_p_o, buckets=None,
                seeded=None) -> DataFrame:
    """A pattern is (s, p, o) or (s, p, o, g): the optional 4th term
    scopes the pattern to the store's ``graph`` column (SPARQL GRAPH —
    the store routes processor diagnostics to a named graph exactly
    like the reference's rdfagraph option, reader.rb:311-317,459-466).
    A graph VAR binds the column; a constant filters it.

    ``buckets``: the materialized store's subject-bucketing modulus
    (materialize.store_buckets) — a CONSTANT-subject pattern then also
    filters the ``bucket`` data column.  The filter is pushed to the
    parquet scan, and since every store file is sorted by bucket, the
    row-group min/max statistics skip the other buckets' rows.

    ``seeded``: {variable: constants} for variables the group's VALUES
    binds to a fixed set; a path endpoint bound that way seeds the
    frontier from the set, exactly as a constant endpoint seeds it
    from its one term."""
    g_term = None
    if len(s_p_o) == 4:
        s_term, p_term, o_term, g_term = s_p_o
    else:
        s_term, p_term, o_term = s_p_o
    if g_term is not None and "graph" not in triples.columns:
        raise ValueError(
            "graph-scoped pattern needs a 'graph' column in the store")
    if isinstance(p_term, Path):
        if g_term is not None:
            if isinstance(g_term, tuple):
                raise ValueError(
                    "GRAPH variable over a property-path pattern is "
                    "not supported — scope the path to a constant "
                    "graph (the path edge relation carries no graph "
                    "column)")
            # evaluate the whole path WITHIN the named graph
            triples = triples.filter(F.col("graph") == g_term)
        for term in (s_term, o_term):
            if isinstance(term, tuple) and term[0] == "lit":
                raise ValueError(
                    "tagged-literal endpoints are not supported on "
                    "property-path patterns (paths bind lexical terms)")
        s_seeds = _endpoint_seeds(s_term, seeded)
        o_seeds = _endpoint_seeds(o_term, seeded)
        if s_seeds is None and o_seeds is not None:
            # a bound OBJECT seeds the inverted path
            s_term, p_term, o_term = o_term, _invert(p_term), s_term
            s_seeds = o_seeds
        # a bound subject seeds the frontier; two free endpoints step
        # unseeded, from the path's whole edge relation
        seeds = None if s_seeds is None else _seeds(triples, s_seeds)
        return _bind_path(_step(triples, p_term, seeds), s_term, o_term)
    proj, filters, seen = [], [], {}
    have_meta = has_term_meta(triples)
    positions = _POSITIONS if g_term is None else _POSITIONS + ("graph",)
    for pos, term in zip(positions, s_p_o):
        col = F.col(pos)
        if isinstance(term, tuple) and term[0] == "var":
            name = _check_var_name(term[1])
            if name in seen:
                # same variable twice in one pattern → equality
                filters.append(col == F.col(seen[name]))
            else:
                seen[name] = pos
                proj.append(col.alias(name))
                if pos == "obj" and have_meta:
                    for src, sfx in _META_SRC:
                        proj.append(F.col(src).alias(name + sfx))
        elif isinstance(term, tuple) and term[0] == "lit":
            _tag, value, lang, datatype = term
            if pos != "obj":
                raise ValueError("tagged literal only valid as object")
            if not have_meta:
                raise ValueError(
                    "tagged-literal match needs lang/datatype columns")
            filters.append(col == F.lit(value))
            if lang is not None:
                filters.append(F.col("lang") == lang)
            if datatype is not None:
                filters.append(F.col("datatype") == datatype)
        else:
            filters.append(col == F.lit(term))
    if (buckets and "bucket" in triples.columns
            and not isinstance(s_term, tuple)):
        filters.insert(
            0, F.col("bucket") == subject_bucket(F.lit(s_term), buckets))
    if filters:
        # one filter call (each DataFrame call is a Py4J round trip that
        # re-runs analysis), nested right to left: the conjunction
        # Catalyst builds from stacked filters, so the plan is the same
        triples = triples.filter(functools.reduce(
            lambda rest, f: f & rest, reversed(filters)))
    return triples.select(*proj).distinct()


def _join_patterns(triples: DataFrame, patterns, buckets=None,
                   seeded=None) -> DataFrame:
    out = None
    for s_p_o in patterns:
        part = _pattern_df(triples, s_p_o, buckets=buckets, seeded=seeded)
        if out is None:
            out = part
        else:
            # metadata columns never act as join keys, and the first
            # binding's metadata wins on re-binds
            dup_meta = [c for c in part.columns
                        if _is_meta(c) and c in out.columns]
            if dup_meta:
                part = part.drop(*dup_meta)
            shared = [c for c in part.columns
                      if c in out.columns and not _is_meta(c)]
            out = out.join(part, shared) if shared else out.crossJoin(part)
    # the alias ends the analyzer's search for a name the solutions do
    # not bind: below a pattern's projection, FILTER(?subj = ..) would
    # otherwise resolve to the store's subj column
    return out.alias("bgp")


def _group_df(triples: DataFrame, group, buckets=None) -> DataFrame:
    """A sub-group (OPTIONAL / MINUS / FILTER [NOT] EXISTS operand):
    either a plain pattern list, or a dict with ``patterns`` plus
    group-scoped ``filters`` (Column predicates or SQL strings applied
    INSIDE the group, before it joins the outer solutions, so a
    filter over any other variable fails to resolve)."""
    if isinstance(group, dict):
        patterns = group.get("patterns") or []
        filters = group.get("filters") or ()
    else:
        patterns, filters = group, ()
    df = _join_patterns(triples, patterns, buckets=buckets)
    for flt in filters:
        df = df.filter(flt)
    return df


def bgp_select(triples: DataFrame, patterns, select=None,
               filters=None, optional=None, minus=None,
               not_exists=None, exists=None, values=None, bind=None,
               subselects=None, buckets=None, meta=False) -> DataFrame:
    """patterns: [(s, p, o)] where each position is a concrete string
    or var('name'). → one column per variable (or ``select``'s subset),
    one row per solution (DISTINCT — set semantics like SPARQL
    SELECT DISTINCT).

    ``filters``: SPARQL FILTER — Column predicates (or SQL strings)
    over the variable columns, applied to the joined solutions after
    OPTIONAL (so BOUND()-style tests over optional variables work).
    ``optional``: SPARQL OPTIONAL — a list of pattern GROUPS; each
    group left-joins the solution set on its shared variables, so its
    variables come back NULL where the group has no match.  Groups may
    only share variables bound by the REQUIRED patterns: a variable
    bound by an earlier OPTIONAL can be NULL, and a NULL join key never
    matches in SQL while SPARQL treats unbound as compatible — rather
    than silently diverge, such a group raises.
    ``minus``: SPARQL MINUS — pattern groups whose solutions REMOVE
    compatible rows (left-anti join on the shared variables).  A group
    sharing no variable is a no-op, per the SPARQL spec (disjoint
    domains are never compatible, so MINUS removes nothing).
    ``not_exists``: SPARQL FILTER NOT EXISTS — like MINUS but a group
    with no shared variable removes EVERY solution when the group has
    any match at all (the spec's divergence between the two negation
    forms).
    ``exists``: SPARQL FILTER EXISTS — keeps the solutions with a
    compatible match (left-semi join).
    ``values``: SPARQL VALUES — ``(var_names, rows)``: an inline
    binding table (broadcast — it is literal data) inner-joined on its
    variables.  A column with no UNDEF cell also seeds the frontier of
    any path endpoint it binds (``?x p+ ?y . VALUES ?x { ... }``).
    ``bind``: SPARQL BIND — dict of new variable name → Column
    expression over the solution columns, applied before ``filters``
    so FILTER can reference bound variables.
    ``subselects``: SPARQL subqueries — already-compiled solution
    DataFrames ({ SELECT ... } groups) inner-joined on their shared
    variables (evaluated bottom-up per the spec; a subselect sharing
    no variable cross-joins, like a disjoint pattern group).
    ``meta``: keep object variables' ``__kind/__lang/__dt`` columns in
    the solutions (a triples template instantiates whole terms)."""
    if not patterns and not subselects:
        raise ValueError("empty BGP")
    # VALUES columns without UNDEF cells are bound SETS: they seed the
    # path endpoints they bind (an UNDEF cell leaves the var free)
    seeded = {}
    for i, name in enumerate(values[0] if values is not None else ()):
        cells = [r[i] for r in values[1]]
        if cells and not any(c is None or isinstance(c, tuple)
                             for c in cells):
            seeded[name] = sorted(set(cells))
    out = (_join_patterns(triples, patterns, buckets=buckets,
                          seeded=seeded)
           if patterns else None)
    for sub in subselects or ():
        if out is None:
            out = sub
            continue
        shared = [c for c in sub.columns
                  if c in out.columns and not _is_meta(c)]
        out = out.join(sub, shared) if shared else out.crossJoin(sub)
    required_vars = set(out.columns)
    if values is not None:
        # UNDEF cells (None) leave that variable unconstrained for the
        # row: rows are grouped by their defined-column mask, each
        # group joins on its own columns, and the per-group results
        # union (set semantics dedup across overlapping rows)
        names, rows = values
        by_mask: dict = {}
        for r in rows:
            mask = tuple(i for i, cell in enumerate(r)
                         if cell is not None)
            by_mask.setdefault(mask, []).append(r)
        outs = []
        for mask, rs in by_mask.items():
            if not mask:
                outs.append(out)  # an all-UNDEF row matches everything
                continue
            sub_names = [names[i] for i in mask]
            vdf = triples.sparkSession.createDataFrame(
                [tuple(r[i] for i in mask) for r in rs], sub_names)
            shared = [c for c in vdf.columns if c in out.columns]
            if not shared:
                raise ValueError(
                    "VALUES shares no variable with the patterns")
            outs.append(out.join(F.broadcast(vdf.distinct()), shared))
        out = outs[0]
        for nxt in outs[1:]:
            out = out.unionByName(nxt)
        if len(outs) > 1:
            out = out.distinct()
        required_vars |= set(names)
    for name, expr in (bind or {}).items():
        out = out.withColumn(name, expr)
        required_vars.add(name)
    for group in (optional or ()):
        opt = _group_df(triples, group, buckets=buckets)
        dup_meta = [c for c in opt.columns
                    if _is_meta(c) and c in out.columns]
        if dup_meta:
            opt = opt.drop(*dup_meta)
        shared = [c for c in opt.columns
                  if c in required_vars and not _is_meta(c)]
        extra = [c for c in opt.columns
                 if c in out.columns and c not in required_vars
                 and not _is_meta(c)]
        if extra:
            raise ValueError(
                "OPTIONAL group shares variables %s bound only by an "
                "earlier OPTIONAL: NULL keys never match in SQL, which "
                "diverges from SPARQL's unbound-is-compatible semantics"
                % extra)
        if not shared:
            raise ValueError("OPTIONAL group shares no variable "
                             "with the required patterns")
        out = out.join(opt, shared, "left")
    # group-level FILTERs run AFTER the OPTIONAL joins (SPARQL §8:
    # a filter applies to the whole group's solutions) — that's what
    # makes FILTER(BOUND(?m)) / !BOUND over an OPTIONAL variable work.
    # For filters over required variables only, Catalyst pushes the
    # predicate back below the left joins, so the common case costs
    # nothing extra.
    for flt in (filters or ()):
        out = out.filter(flt)
    # MINUS / FILTER NOT EXISTS / FILTER EXISTS join on the shared
    # variables.  A group sharing none removes nothing under MINUS
    # (disjoint domains are never compatible); under [NOT] EXISTS it
    # tests whether the group has any match at all (a join on TRUE).
    for groups, how, disjoint in ((minus, "left_anti", False),
                                  (not_exists, "left_anti", True),
                                  (exists, "left_semi", True)):
        for group in groups or ():
            sub = _group_df(triples, group, buckets=buckets)
            shared = [c for c in sub.columns
                      if c in out.columns and not _is_meta(c)]
            if shared:
                out = out.join(sub.select(*shared), shared, how)
            elif disjoint:
                out = out.join(sub.limit(1), F.lit(True), how)
    if select is not None:
        out = out.select(*select)
    elif not meta:
        # metadata rides along for FILTER/BIND only — never part of
        # the solution (set semantics are over the lexical bindings)
        dropped = [c for c in out.columns if _is_meta(c)]
        if dropped:
            out = out.drop(*dropped)
    return out.distinct()
