"""Distributed basic-graph-pattern queries over the triple store —
the "query the constructed KG" surface (the in-memory ASK evaluator
in rdfa/bgp.py is its per-document little sibling).

A BGP compiles to relational algebra: each triple pattern is a
filtered projection of the triples table with its variables as
columns; patterns join on shared variables (Catalyst then reorders /
broadcasts as stats dictate — the plan is fully declarative). That is
exactly how SPARQL engines over columnar stores execute (property
tables aside), and on the subject-bucketed store a subject-variable
join prunes to co-located buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .materialize import subject_bucket

_POSITIONS = ("subj", "pred", "obj")


def var(name: str):
    """A pattern variable (mirrors rdfa.bgp.v)."""
    return ("var", name)


def lit(value: str, lang: str | None = None,
        datatype: str | None = None):
    """A TAGGED literal constant for object position: matches the
    lexical form AND the store's lang/datatype metadata columns
    ("chat"@fr / "5"^^xsd:integer).  Plain strings keep matching
    lexically only."""
    return ("lit", value, lang, datatype)


# --- property paths (SPARQL 1.1 §9) -------------------------------------
# A path expression evaluates to a DISTINCT (s, o) edge relation; a
# triple pattern whose predicate position is a Path joins against that
# relation instead of a pred-filtered scan.  Closures (p+ / p*) run as
# iterative DOUBLING — log(diameter) rounds, one shuffle per round,
# lineage truncated per round with a lazy localCheckpoint — the same
# distributed-fixpoint shape as connected_components/entail.

class Path:
    __slots__ = ("op", "parts")

    def __init__(self, op: str, parts):
        self.op = op
        self.parts = parts


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
    relates every graph node (distinct subj/obj term) to itself."""
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


def _closure(edges: DataFrame, max_iters: int = 25) -> DataFrame:
    cur = edges.distinct().localCheckpoint(eager=False)
    n = cur.count()
    if n == 0:
        return cur
    for _ in range(max_iters):
        left = cur
        right = (cur.withColumnRenamed("s", "_m")
                 .withColumnRenamed("o", "_o2"))
        step = (left.join(right, left["o"] == right["_m"])
                .select(left["s"], F.col("_o2").alias("o")))
        nxt = cur.unionByName(step).distinct().localCheckpoint(eager=False)
        m = nxt.count()
        if m == n:
            return nxt
        cur, n = nxt, m
    raise ValueError(
        "path closure did not converge within %d rounds (still "
        "growing) — raise max_iters" % max_iters)


def _graph_nodes(triples: DataFrame) -> DataFrame:
    return (triples.select(F.col("subj").alias("n"))
            .unionByName(triples.select(F.col("obj").alias("n")))
            .distinct())


def path_edges(triples: DataFrame, path) -> DataFrame:
    """Path expression → DISTINCT (s, o) DataFrame."""
    if isinstance(path, str):
        return (triples.filter(F.col("pred") == path)
                .select(F.col("subj").alias("s"), F.col("obj").alias("o"))
                .distinct())
    if not isinstance(path, Path):
        raise TypeError("not a path: %r" % (path,))
    if path.op == "seq":
        out = None
        for i, part in enumerate(path.parts):
            nxt = path_edges(triples, part)
            if out is None:
                out = nxt
            else:
                mid = (nxt.withColumnRenamed("s", "_m")
                       .withColumnRenamed("o", "_o2"))
                out = (out.join(mid, out["o"] == mid["_m"])
                       .select(out["s"], F.col("_o2").alias("o"))
                       .distinct())
        if out is None:
            raise ValueError("empty seq path")
        return out
    if path.op == "alt":
        outs = [path_edges(triples, p) for p in path.parts]
        out = outs[0]
        for nxt in outs[1:]:
            out = out.unionByName(nxt)
        return out.distinct()
    if path.op == "inv":
        e = path_edges(triples, path.parts[0])
        return e.select(F.col("o").alias("s"), F.col("s").alias("o"))
    if path.op == "plus":
        return _closure(path_edges(triples, path.parts[0]))
    if path.op == "star":
        nodes = _graph_nodes(triples).select(
            F.col("n").alias("s"), F.col("n").alias("o"))
        return (_closure(path_edges(triples, path.parts[0]))
                .unionByName(nodes).distinct())
    if path.op == "opt":
        nodes = _graph_nodes(triples).select(
            F.col("n").alias("s"), F.col("n").alias("o"))
        return path_edges(triples, path.parts[0]).unionByName(
            nodes).distinct()
    if path.op in ("neg", "neginv"):
        src, dst = (("subj", "obj") if path.op == "neg"
                    else ("obj", "subj"))
        return (triples.filter(~F.col("pred").isin(list(path.parts)))
                .select(F.col(src).alias("s"), F.col(dst).alias("o"))
                .distinct())
    raise ValueError("unknown path op %r" % path.op)


# --- seed-restricted path evaluation ------------------------------------
# When a pattern binds a CONSTANT at either endpoint of a path —
# ``<x> p+ ?y`` is the most common reachability shape — materializing
# the full unrestricted closure and then filtering is quadratic-ish in
# reachable pairs and a scale-killer on a web KG.  Instead the
# evaluation seeds a frontier from the bound term and iterates
# ``frontier ⋈ edges`` to fixpoint: work proportional to the REACHABLE
# set, one shuffle per BFS round, lineage truncated per round exactly
# like the unseeded doubling closure.  A bound OBJECT reuses the same
# machinery on the inverted path.

#: diagnostics from the most recent seeded closure run (rounds taken,
#: total rows ever added to the visited set) — lets tests pin that a
#: seeded query never explores beyond its reachable component.
last_seeded_stats: dict = {}


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


def _pred_edges(triples: DataFrame, pred: str, forward: bool) -> DataFrame:
    src, dst = ("subj", "obj") if forward else ("obj", "subj")
    return (triples.filter(F.col("pred") == pred)
            .select(F.col(src).alias("_s"), F.col(dst).alias("_o")))


def _step(triples: DataFrame, path, frontier: DataFrame) -> DataFrame:
    """Apply ``path`` once from ``frontier`` (seed, n) → (seed, n).
    Bare predicates join the (small) frontier against a pred-filtered
    scan; closures recurse into the seeded BFS."""
    if isinstance(path, str) or (isinstance(path, Path)
                                 and path.op == "inv"
                                 and isinstance(path.parts[0], str)):
        forward = isinstance(path, str)
        pred = path if forward else path.parts[0]
        e = _pred_edges(triples, pred, forward)
        return (frontier.join(e, frontier["n"] == e["_s"])
                .select("seed", F.col("_o").alias("n")).distinct())
    if not isinstance(path, Path):
        raise TypeError("not a path: %r" % (path,))
    if path.op == "inv":
        return _step(triples, _invert(path.parts[0]), frontier)
    if path.op == "seq":
        cur = frontier
        for part in path.parts:
            cur = _step(triples, part, cur)
        return cur
    if path.op == "alt":
        outs = [_step(triples, p, frontier) for p in path.parts]
        out = outs[0]
        for nxt in outs[1:]:
            out = out.unionByName(nxt)
        return out.distinct()
    if path.op == "plus":
        return _seeded_closure(triples, path.parts[0], frontier,
                               reflexive=False)
    if path.op == "star":
        return _seeded_closure(triples, path.parts[0], frontier,
                               reflexive=True)
    if path.op == "opt":
        return (frontier.distinct()
                .unionByName(_step(triples, path.parts[0], frontier))
                .distinct())
    if path.op in ("neg", "neginv"):
        src, dst = (("subj", "obj") if path.op == "neg"
                    else ("obj", "subj"))
        e = (triples.filter(~F.col("pred").isin(list(path.parts)))
             .select(F.col(src).alias("_s"), F.col(dst).alias("_o")))
        return (frontier.join(e, frontier["n"] == e["_s"])
                .select("seed", F.col("_o").alias("n")).distinct())
    raise ValueError("unknown path op %r" % path.op)


def _has_closure(path) -> bool:
    """Does the path contain a closure operator (p+/p*/p?) anywhere?
    Only those materialize an unbounded relation when unseeded."""
    if isinstance(path, str):
        return False
    if path.op in ("plus", "star", "opt"):
        return True
    return any(_has_closure(p) for p in path.parts)


def _seeded_closure(triples: DataFrame, inner, seeds: DataFrame,
                    reflexive: bool, max_iters: int = 64) -> DataFrame:
    """BFS from the seed set: per round one frontier ⋈ edges shuffle
    plus an anti-join against the visited set — total work ∝ edges of
    the reachable component, rounds = its diameter (web-KG diameters
    are small; contrast the unseeded doubling closure, which touches
    the WHOLE edge relation every round)."""
    seeds = seeds.distinct().localCheckpoint(eager=False)
    visited = None
    frontier = seeds
    rounds = added = 0
    n_new = 1
    for _ in range(max_iters):
        step = _step(triples, inner, frontier)
        if visited is not None:
            step = step.join(visited, ["seed", "n"], "left_anti")
        step = step.localCheckpoint(eager=False)
        n_new = step.count()
        rounds += 1
        if n_new == 0:
            break
        added += n_new
        visited = (step if visited is None
                   else visited.unionByName(step)
                   .localCheckpoint(eager=False))
        frontier = step
    if n_new != 0:
        # truncating would silently return WRONG (partial) answers —
        # a graph with diameter beyond the cap must fail loudly
        raise ValueError(
            "seeded path closure did not converge within %d rounds "
            "(frontier still growing) — raise max_iters for graphs "
            "of this diameter" % max_iters)
    last_seeded_stats.clear()
    last_seeded_stats.update({"rounds": rounds, "visited_rows": added})
    if visited is None:
        visited = seeds.limit(0)
    if reflexive:
        # zero-length component: the SEED relates to itself (per the
        # SPARQL zero-length-path semantics for a bound term — note
        # this holds even when the term has no edges in the graph,
        # where the unseeded all-nodes evaluation would drop it)
        visited = visited.unionByName(seeds).distinct()
    return visited


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


def _is_meta(col_name: str) -> bool:
    return col_name.endswith(_META_SUFFIXES)


def _check_var_name(name: str) -> str:
    if _is_meta(name):
        raise ValueError(
            "variable name %r ends with a reserved metadata suffix "
            "(%s)" % (name, "/".join(_META_SUFFIXES)))
    return name


def _pattern_df(triples: DataFrame, s_p_o, buckets=None) -> DataFrame:
    """A pattern is (s, p, o) or (s, p, o, g): the optional 4th term
    scopes the pattern to the store's ``graph`` column (SPARQL GRAPH —
    the store routes processor diagnostics to a named graph exactly
    like the reference's rdfagraph option, reader.rb:311-317,459-466).
    A graph VAR binds the column; a constant filters it.

    ``buckets``: the materialized store's subject-bucketing modulus
    (materialize.store_buckets) — a CONSTANT-subject pattern then also
    filters the ``bucket`` PARTITION column, so the scan prunes to one
    bucket directory (1/buckets of the store) before touching a row
    group.  Point lookups on a 100 TB store read 1/64th of it."""
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
        s_is_const = not isinstance(s_term, tuple)
        o_is_const = not isinstance(o_term, tuple)
        if s_is_const or o_is_const:
            # SEEDED evaluation: iterate a frontier from the bound
            # endpoint — work ∝ the reachable set, never the full
            # closure (bound object runs the inverted path forward)
            spark = triples.sparkSession
            if s_is_const:
                seed_val, path_fwd, other = s_term, p_term, o_term
            else:
                seed_val, path_fwd, other = (o_term, _invert(p_term),
                                             s_term)
            seeds = spark.createDataFrame(
                [(seed_val, seed_val)], "seed string, n string")
            reach = _step(triples, path_fwd, seeds)
            if isinstance(other, tuple):  # the free endpoint is a var
                name = _check_var_name(other[1])
                return reach.select(F.col("n").alias(name)).distinct()
            # both endpoints constant (ASK-style): 0-column solutions
            return (reach.filter(F.col("n") == F.lit(other))
                    .select().distinct())
        # var-var (or repeated-var) pattern: bind against the full
        # path edge relation
        part = path_edges(triples, p_term)
        proj, filters, seen = [], [], {}
        for pos, term in zip(("s", "o"), (s_term, o_term)):
            col = F.col(pos)
            name = _check_var_name(term[1])
            if name in seen:
                filters.append(col == F.col(seen[name]))
            else:
                seen[name] = pos
                proj.append(col.alias(name))
        for f in filters:
            part = part.filter(f)
        return part.select(*proj).distinct()
    proj, filters, seen = [], [], {}
    have_meta = all(src in triples.columns for src, _sfx in _META_SRC)
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
    part = triples
    if (buckets and "bucket" in triples.columns
            and not isinstance(s_term, tuple)):
        part = part.filter(
            F.col("bucket") == subject_bucket(F.lit(s_term), buckets))
    for f in filters:
        part = part.filter(f)
    return part.select(*proj).distinct()


def _join_patterns(triples: DataFrame, patterns,
                   buckets=None) -> DataFrame:
    out = None
    for s_p_o in patterns:
        part = _pattern_df(triples, s_p_o, buckets=buckets)
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
    return out


def _group_df(triples: DataFrame, group, buckets=None) -> DataFrame:
    """A sub-group (OPTIONAL / MINUS / FILTER [NOT] EXISTS operand):
    either a plain pattern list, or a dict with ``patterns`` plus
    group-scoped ``filters`` (Column predicates or SQL strings applied
    INSIDE the group, before it joins the outer solutions — correct
    when the filter only references the group's own variables; the
    SPARQL front end validates that scope)."""
    if isinstance(group, dict):
        patterns = group.get("patterns") or []
        filters = group.get("filters") or ()
    else:
        patterns, filters = group, ()
    df = _join_patterns(triples, patterns, buckets=buckets)
    for flt in filters:
        df = df.filter(flt)
    return df


def bgp_union(triples: DataFrame, groups, select=None) -> DataFrame:
    """SPARQL UNION: solutions of several pattern groups combined.
    Groups must bind the same variables (or pass ``select`` to project
    the common subset); result is DISTINCT across groups."""
    outs = [bgp_select(triples, g, select=select) for g in groups]
    out = outs[0]
    for nxt in outs[1:]:
        out = out.unionByName(nxt)
    return out.distinct()


def bgp_select(triples: DataFrame, patterns, select=None,
               filters=None, optional=None, minus=None,
               not_exists=None, exists=None, order_by=None, limit=None,
               values=None, bind=None, subselects=None,
               buckets=None) -> DataFrame:
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
    ``order_by`` / ``limit``: solution modifiers.  ``order_by`` takes
    column names or Column expressions; with ``limit`` set, Catalyst
    compiles the pair to TakeOrderedAndProject — a per-partition top-k
    plus a driver merge of k·P rows, never a global sort of the
    solution set.
    ``values``: SPARQL VALUES — ``(var_names, rows)``: an inline
    binding table (broadcast — it is literal data) inner-joined on its
    variables.  ``bind``: SPARQL BIND — dict of new variable name →
    Column expression over the solution columns, applied before
    ``filters`` so FILTER can reference bound variables.
    ``subselects``: SPARQL subqueries — already-compiled solution
    DataFrames ({ SELECT ... } groups) inner-joined on their shared
    variables (evaluated bottom-up per the spec; a subselect sharing
    no variable cross-joins, like a disjoint pattern group)."""
    if not patterns and not subselects:
        raise ValueError("empty BGP")
    # VALUES-seeded closure paths: when the inline binding table fixes
    # one endpoint of a closure path to a SMALL literal set, seed the
    # frontier from those values instead of materializing the full
    # closure — the constant-endpoint optimization generalized to
    # bound sets (<x> p+ ?y via VALUES ?x { ... })
    prebuilt = []
    if values is not None and patterns:
        v_names, v_rows = values
        col_vals = {}
        for i, n in enumerate(v_names):
            cells = [r[i] for r in v_rows]
            # a single UNDEF row leaves the var unconstrained — it
            # must NOT narrow the seed set
            if any(c is None or isinstance(c, tuple) for c in cells):
                continue
            if cells:
                col_vals[n] = sorted(set(cells))
        kept = []
        for pat in patterns:
            if (len(pat) == 3 and isinstance(pat[1], Path)
                    and _has_closure(pat[1])
                    and isinstance(pat[0], tuple) and pat[0][0] == "var"
                    and isinstance(pat[2], tuple) and pat[2][0] == "var"
                    and pat[0][1] != pat[2][1]
                    and (pat[0][1] in col_vals
                         or pat[2][1] in col_vals)):
                if pat[0][1] in col_vals:
                    sname, oname = pat[0][1], pat[2][1]
                    path_fwd = pat[1]
                else:
                    sname, oname = pat[2][1], pat[0][1]
                    path_fwd = _invert(pat[1])
                seeds = triples.sparkSession.createDataFrame(
                    [(v, v) for v in col_vals[sname]],
                    "seed string, n string")
                prebuilt.append(
                    _step(triples, path_fwd, seeds)
                    .select(F.col("seed").alias(sname),
                            F.col("n").alias(oname)).distinct())
                continue
            kept.append(pat)
        patterns = kept
    out = (_join_patterns(triples, patterns, buckets=buckets)
           if patterns else None)
    for sub in list(prebuilt) + list(subselects or ()):
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
    for group in (minus or ()):
        neg = _group_df(triples, group, buckets=buckets)
        shared = [c for c in neg.columns
                  if c in out.columns and not _is_meta(c)]
        if shared:
            out = out.join(neg.select(*shared), shared, "left_anti")
        # no shared variables → MINUS removes nothing (SPARQL spec)
    for group in (not_exists or ()):
        neg = _group_df(triples, group, buckets=buckets)
        shared = [c for c in neg.columns
                  if c in out.columns and not _is_meta(c)]
        if shared:
            out = out.join(neg.select(*shared), shared, "left_anti")
        else:
            # NOT EXISTS with a disjoint group: any match at all
            # empties the solution set (anti join on a TRUE condition)
            out = out.join(neg.limit(1), F.lit(True), "left_anti")
    for group in (exists or ()):
        pos = _group_df(triples, group, buckets=buckets)
        shared = [c for c in pos.columns
                  if c in out.columns and not _is_meta(c)]
        if shared:
            # FILTER EXISTS: keep solutions with a compatible match
            out = out.join(pos.select(*shared), shared, "left_semi")
        else:
            out = out.join(pos.limit(1), F.lit(True), "left_semi")
    if select:
        out = out.select(*select)
    else:
        # metadata rides along for FILTER/BIND only — never part of
        # the solution (set semantics are over the lexical bindings)
        meta = [c for c in out.columns if _is_meta(c)]
        if meta:
            out = out.drop(*meta)
    out = out.distinct()
    if order_by:
        out = out.orderBy(*order_by)
    if limit is not None:
        out = out.limit(limit)
    return out


def bgp_aggregate(triples: DataFrame, patterns, group_by, aggs,
                  **kwargs) -> DataFrame:
    """SPARQL GROUP BY + aggregates over BGP solutions.  ``group_by``
    is a list of variable names; ``aggs`` maps output column name →
    aggregate Column (e.g. ``{"n": F.count("*")}``).  Aggregates run
    over the DISTINCT solution set (this engine's SELECT DISTINCT
    contract), i.e. SPARQL's ``SELECT (COUNT(DISTINCT ...) ...)``
    family.  The groupBy partial-aggregates map-side, so the shuffle
    carries one row per (group, mapper), not the solutions."""
    sol = bgp_select(triples, patterns, **kwargs)
    return sol.groupBy(*group_by).agg(
        *[expr.alias(name) for name, expr in aggs.items()])


def bgp_construct(triples: DataFrame, patterns, template,
                  **kwargs) -> DataFrame:
    """SPARQL CONSTRUCT: each solution instantiates every template
    triple (s, p, o) — var('name') positions take the solution's
    binding, strings stay constant.  Output is a DISTINCT
    (subj, pred, obj) DataFrame ready for write_triples /
    entailment — KG derivation rules as one declarative plan."""
    sol = bgp_select(triples, patterns, **kwargs)
    outs = []
    for s, p, o in template:
        cols = []
        for pos, term in zip(_POSITIONS, (s, p, o)):
            if isinstance(term, tuple) and term[0] == "var":
                cols.append(F.col(term[1]).alias(pos))
            else:
                cols.append(F.lit(term).alias(pos))
        outs.append(sol.select(*cols))
    out = outs[0]
    for nxt in outs[1:]:
        out = out.unionByName(nxt)
    # drop solutions with unbound (NULL) template vars, per SPARQL
    for pos in _POSITIONS:
        out = out.filter(F.col(pos).isNotNull())
    return out.distinct()


def bgp_describe(triples: DataFrame, targets, patterns=None,
                 **kwargs) -> DataFrame:
    """SPARQL DESCRIBE: all store triples whose SUBJECT is a
    described resource.  ``targets`` mixes constant IRIs and
    var('name') entries resolved against the WHERE group's solutions.
    (Subject-scoped description — the reference ecosystem's default
    DESCRIBE is implementation-defined; blank-node closure is not
    chased, matching the store's skolemized-label model.)"""
    spark = triples.sparkSession
    consts = [t for t in targets if not isinstance(t, tuple)]
    vars_ = [t[1] for t in targets if isinstance(t, tuple)]
    subs = None
    if consts:
        subs = spark.createDataFrame([(c,) for c in consts], "subj string")
    if vars_:
        if not patterns:
            raise ValueError("DESCRIBE ?var needs a WHERE group")
        sol = bgp_select(triples, patterns, **kwargs)
        for v in vars_:
            part = sol.select(F.col(v).alias("subj")).distinct()
            subs = part if subs is None else subs.unionByName(part)
    if subs is None:
        raise ValueError("DESCRIBE needs at least one target")
    # constant target lists are tiny by construction — broadcast them.
    # Var-derived target sets come from an ARBITRARY bgp_select
    # (DESCRIBE ?d WHERE {?d rdf:type :Article} can be web-scale): a
    # forced broadcast there overrides the optimizer's size estimate
    # and OOMs the driver/executors, so use a plain left_semi and let
    # AQE pick broadcast at runtime when the solution set is actually
    # small.
    subs = subs.distinct()
    if not vars_:
        subs = F.broadcast(subs)
    return triples.join(subs, "subj", "left_semi")


def bgp_ask(triples: DataFrame, patterns, **kwargs) -> bool:
    """SPARQL ASK over the distributed store: does at least one
    solution exist?  LIMIT 1 keeps the scan short-circuiting."""
    return bool(bgp_select(triples, patterns, **kwargs).limit(1).take(1))
