"""Pattern → DataFrame-join-chain compiler (SURVEY.md §2.6, §3).

The reference evaluates patterns imperatively: ``evalLtoR``
(``Cypher.hs:653-695``) materializes the leftmost node column, then
``walkPaths`` (``Cypher.hs:800-863``) probes judy per frontier node and
edge-attr. Here each hop is ONE relational join
``frontier ⋈ edges(src, label-pred, dir-pred)`` and the whole pattern
compiles to a left-deep join chain that Catalyst/AQE optimizes —
predicate pushdown, broadcast selection and join re-ordering replace the
reference's hand-rolled cost model (``compl``/``minI``,
``Cypher.hs:575-607``).

Result = the **bindings DataFrame**: one row per matched path, columns
``n0, e0_label, e0_seq, n1, e1_label, …`` (variable-length hops produce
``e{i}_depth`` instead of label/seq). The reference's flattened ``table``
output and nested ``temp`` layers (``Table.hs:21-50``) are projections of
this (see :func:`flat_table`, :func:`nested_layers`).

Variable-length paths (``several``/``***``, ``Cypher.hs:127-136,853-858``)
are the one non-relational piece: a driver-side BFS frontier loop with the
reference's stop rules (``stopRecursion``, ``Cypher.hs:823-837``) — empty
frontier before lo contributes nothing; results accumulate for depth ≥ lo;
unbounded repeats are cycle-guarded by a visited-set anti-join and each
iteration is localCheckpoint'ed to keep plans shallow at scale.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.graph import Graph
from judy_graph_db_spark import loopstate
from judy_graph_db_spark.operators.adjacency import nodes_scan
from judy_graph_db_spark.plans.pattern import E, N, Pattern
from judy_graph_db_spark.schema import EDGE_COLS, local_df, union_all

UNBOUNDED_MAX_HOPS = 30  # safety cap for `***` (reference uses 2^32-1, Cypher.hs:135-136)


# --------------------------------------------------------------- node specs

def _ranges_predicate(g: Graph, col, wanted_labels) -> Optional[object]:
    """Label filter as an OR-of-BETWEEN predicate over the ranges table
    (``nodeLabel``/``inRange``) — pure predicate, so it pushes down to the
    scan instead of requiring a join."""
    entries = [e for e in g.ranges.entries if e[2] in set(wanted_labels)]
    known = {e[2] for e in g.ranges.entries}
    if not entries or not set(wanted_labels) <= known:
        return None
    pred = None
    for start, length, _, _ in entries:
        p = col.between(int(start), int(start + length - 1))
        pred = p if pred is None else (pred | p)
    return pred


def materialize_node_spec(g: Graph, spec: N, col_name: str) -> DataFrame:
    """``evalNode`` (``Cypher.hs:624-642``): AllNodes → every node; Label →
    range spans; Nodes → the explicit list.

    An explicit list is de-duplicated here in Python and becomes a local
    relation (:func:`local_df`) with its exact size, so the first hop
    broadcasts it against the edge table; it needs no ``distinct`` and so
    adds no Exchange. The other specs are de-duplicated by ``distinct``."""
    if spec.ids is not None:
        df = local_df(g.spark, [(i,) for i in dict.fromkeys(int(i) for i in spec.ids)],
                      f"{col_name} long")
    elif spec.labels is not None:
        pred = _ranges_predicate(g, F.col("id"), spec.labels)
        if pred is not None and g.nodes.isEmpty():
            ids = nodes_scan(g).distinct()
            df = ids.filter(pred).select(F.col("id").alias(col_name))
        else:
            src = g.nodes if not g.nodes.isEmpty() else None
            if src is not None:
                df = src.filter(F.col("label").isin(list(spec.labels))).select(
                    F.col("id").alias(col_name))
            else:
                df = local_df(g.spark, [], f"{col_name} long")
    else:
        if not g.nodes.isEmpty():
            df = g.nodes.select(F.col("id").alias(col_name))
        else:
            df = nodes_scan(g).select(F.col("id").alias(col_name)).distinct()
    if spec.where is not None:
        df = df.filter(spec.where(F.col(col_name)))
    return df if spec.ids is not None else df.distinct()


def restrict_to_node_spec(g: Graph, df: DataFrame, col_name: str, spec: N) -> DataFrame:
    """Apply a node spec as a restriction on an existing binding column."""
    if spec.is_any():
        return df
    if spec.ids is not None:
        df = df.filter(F.col(col_name).isin([int(i) for i in spec.ids]))
    if spec.labels is not None:
        pred = _ranges_predicate(g, F.col(col_name), spec.labels)
        if pred is not None:
            df = df.filter(pred)
        else:
            allowed = g.nodes.filter(F.col("label").isin(list(spec.labels))).select(
                F.col("id").alias(col_name))
            df = df.join(allowed, col_name, "left_semi")
    if spec.where is not None:
        df = df.filter(spec.where(F.col(col_name)))
    return df


# --------------------------------------------------------------- edge specs

def edge_relation(g: Graph, spec: E) -> DataFrame:
    """The filtered edge relation for one hop: label / orth / direction /
    where predicates (``genAttrs`` + ``getEdges``, ``Cypher.hs:288-316,
    839-849``). Direction: 'r' follows forward rows, 'l' follows the
    materialized back rows — the back-bit semantics (``FastAccess.hs:149-150``).
    Orth multi-labels use arrays_overlap instead of the reference's 2ⁿ-1
    attr-combination expansion (SURVEY.md §1.6)."""
    e = g.edges
    if spec.attr:
        e = e.filter(F.col("label").isin(list(spec.attr)))
    if spec.orth:
        e = e.filter(F.arrays_overlap(F.col("labels"), F.array(*[F.lit(x) for x in spec.orth])))
    if spec.direction == "r":
        e = e.filter(~F.col("is_back"))
    elif spec.direction == "l":
        e = e.filter(F.col("is_back"))
    if spec.where is not None:
        cols = {c: F.col(c) for c in EDGE_COLS}
        e = e.filter(spec.where(cols))
    return e


# ----------------------------------------------------------------- compile

def compile_pattern(g: Graph, pattern: Pattern) -> DataFrame:
    """Left-to-right compilation (= the reference's quick strategy,
    ``evalLtoR``). Returns the bindings DataFrame."""
    if not pattern.is_complete():
        raise ValueError("pattern must start and end with a node spec")
    node_specs = pattern.node_specs
    edge_specs = pattern.edge_specs

    bindings = materialize_node_spec(g, node_specs[0], "n0")

    seen_optional = False
    for i, espec in enumerate(edge_specs):
        cur, nxt = f"n{i}", f"n{i+1}"
        if seen_optional and not espec.optional:
            raise ValueError(
                f"edge {i} is required but an earlier edge is optional — "
                "an inner join above a NULL frontier would silently drop "
                "the optionally-kept rows; make every hop after the first "
                "optional one optional too (Cypher's OPTIONAL MATCH scope)")
        if espec.several is not None:
            bindings = _walk_several(g, bindings, espec, cur, nxt, i)
            bindings = restrict_to_node_spec(g, bindings, nxt,
                                             node_specs[i + 1])
        elif espec.optional:
            # OPTIONAL MATCH hop: the nxt node's filters apply INSIDE the
            # optional side (a prefix row that cannot extend keeps NULLs;
            # filtering after the left join would re-drop it), then LEFT
            # join. Later optional hops extend naturally: a NULL cur never
            # equi-matches, so the row just stays NULL — no special case.
            seen_optional = True
            rel = edge_relation(g, espec).select(
                F.col("src").alias(f"_src_{i}"),
                F.col("dst").alias(nxt),
                F.col("label").alias(f"e{i}_label"),
                F.col("edge_seq").alias(f"e{i}_seq"),
            )
            rel = restrict_to_node_spec(g, rel, nxt, node_specs[i + 1])
            bindings = bindings.join(
                rel, bindings[cur] == rel[f"_src_{i}"], "left"
            ).drop(f"_src_{i}")
        else:
            rel = edge_relation(g, espec).select(
                F.col("src").alias(f"_src_{i}"),
                F.col("dst").alias(nxt),
                F.col("label").alias(f"e{i}_label"),
                F.col("edge_seq").alias(f"e{i}_seq"),
            )
            bindings = bindings.join(
                rel, bindings[cur] == rel[f"_src_{i}"], "inner"
            ).drop(f"_src_{i}")
            bindings = restrict_to_node_spec(g, bindings, nxt,
                                             node_specs[i + 1])
    return bindings


def _walk_several(g: Graph, bindings: DataFrame, espec: E, cur: str, nxt: str,
                  hop: int) -> DataFrame:
    """Variable-length expansion (``walkPaths`` repeat handling,
    ``Cypher.hs:853-858`` + ``stopRecursion`` ``Cypher.hs:823-837``).

    Each depth's rows are collected in a list and unioned once through
    :func:`union_all`. ``DataFrame.union`` would rewrite the nested
    UNION ALLs inside a cached edge table's plan, so the CacheManager no
    longer matched it and every ``several`` walk re-ran the edge source
    from its files; ``union_all`` keeps the cached edges visible."""
    lo, hi = espec.several
    hi_eff = hi if hi is not None else UNBOUNDED_MAX_HOPS
    # per-hop relation without the `several` bounds
    base_rel = edge_relation(g, E(attr=espec.attr, orth=espec.orth,
                                  where=espec.where, direction=espec.direction))
    rel = base_rel.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))

    prev_cols = bindings.columns  # path prefix columns (n0..cur + edge cols)
    frontier = bindings.withColumn("_cur", F.col(cur))
    results = []
    if lo == 0:
        results.append(frontier.withColumn(f"e{hop}_depth", F.lit(0)))

    # Bounded repeats walk ALL paths (a node re-reached at a deeper depth in
    # [lo,hi] is a result) — termination comes from `hi`; per-depth distinct
    # keeps the frontier ≤ |prefix|×|V|. Unbounded `***` switches to
    # reachability semantics with a visited-set anti-join so cycles terminate
    # (the reference would loop on cyclic input; SURVEY.md §4.3).
    use_visited = hi is None
    if use_visited:
        # Runtime-stats strategy pick (the Spark analog of the reference's
        # cost-model dispatch, `compl`/`minI` Cypher.hs:575-607, with real
        # counts instead of 3 magic buckets): a frontier covering a large
        # share of the edge relation's sources will touch the whole
        # reachable relation anyway, so min-plus path doubling gets the
        # same reachability set in O(log d) shuffle rounds instead of the
        # BFS loop's O(d). A selective frontier keeps the BFS loop, which
        # only ever explores its own reachable cone.
        from judy_graph_db_spark.operators.analytics import minplus_closure

        n_frontier = frontier.select("_cur").distinct().count()
        n_src = rel.select("_s").distinct().count()
        if 4 * n_frontier >= n_src:
            closure = minplus_closure(
                base_rel.select("src", "dst"),
                # a start re-reached through a cycle is a match at that
                # depth — unless depth 0 was already reported (the loop
                # pre-seeds the visited set in that case)
                keep_self=(lo > 0),
                # same exploration cap as the BFS branch, so the strategy
                # pick never changes the answer on >cap-hop graphs
                max_depth=UNBOUNDED_MAX_HOPS,
            )
            reach = (
                frontier.select(*prev_cols, "_cur").distinct()
                .join(closure, F.col("_cur") == closure["src"])
                .filter(closure["depth"] >= max(lo, 1))
            )
            out = reach.select(
                *prev_cols,
                closure["dst"].alias("_next"),
                closure["depth"].cast("int").alias(f"e{hop}_depth"),
            ).withColumnRenamed("_next", "_cur")
            # lo == 0: depth-0 rows first, column already set
            return union_all(results + [out], by_name=True).withColumnRenamed("_cur", nxt)

    if use_visited:
        start_states = frontier.select(*prev_cols, "_cur").distinct()
        # pre-seed start states only when depth 0 was already reported;
        # otherwise a start node re-reached through a cycle is a result
        visited_parts = [start_states if lo == 0 else start_states.limit(0)]

    # Short bounded repeats stay fully lazy: a ≤8-deep join chain is well
    # within Catalyst's comfort zone, so per-depth checkpoint + isEmpty
    # jobs (one Spark job each) would only add driver round-trips. Deep or
    # unbounded walks keep the checkpoint (flat plans) and the early-exit
    # probe (stopRecursion, Cypher.hs:823-837).
    materialize_rounds = use_visited or hi_eff > 8
    depth = 0
    while depth < hi_eff:
        depth += 1
        stepped = (
            frontier.join(rel, frontier["_cur"] == rel["_s"], "inner")
            .drop("_cur", "_s")
            .withColumnRenamed("_d", "_cur")
            .select(*prev_cols, "_cur")
            .distinct()
        )
        if use_visited:
            stepped = stepped.join(union_all(visited_parts), prev_cols + ["_cur"], "left_anti")
        if materialize_rounds:
            fresh = loopstate.checkpoint(stepped, eager=True)
            if fresh.isEmpty():
                break  # frontier dried up (stopRecursion early-succeed/fail)
        else:
            fresh = stepped
        if use_visited:
            visited_parts.append(fresh)
        if depth >= lo:
            results.append(fresh.withColumn(f"e{hop}_depth", F.lit(depth)))
        frontier = fresh

    if not results:
        return (
            bindings.withColumn(nxt, F.col(cur))
            .withColumn(f"e{hop}_depth", F.lit(0))
            .limit(0)
        )
    return union_all(results).withColumnRenamed("_cur", nxt)


# ----------------------------------------------------------- entry points

def _endpoint_cost(g: Graph, spec: N) -> int:
    """Real-statistics endpoint cost (the reference's ``compl``/``minI``
    pick, ``Cypher.hs:575-607``, upgraded from magic constants to cached
    statistics): seed cost ≈ expected FIRST-JOIN work = the spec's node
    cardinality PLUS its labels' outgoing-edge counts — a low-node-count/
    high-degree hub label is a bad seed because its first hop fans out to
    every incident edge, which node counts alone cannot see. Explicit ids
    → their count (degrees unknowable without a per-id probe); anyNode →
    totals. Falls back to the 3-bucket model when stats are unavailable
    (e.g. nodes not yet materialized)."""
    if spec.ids is not None:  # no stats needed — don't trigger ANALYZE
        return len(spec.ids)
    try:
        counts = g.label_counts()
        ecounts = g.label_edge_counts()
    except Exception:
        return spec.complexity()
    if spec.labels is not None:
        return sum(counts.get(l, 0) + ecounts.get(l, 0)
                   for l in spec.labels)
    return (sum(counts.values()) + sum(ecounts.values())) or 100000


def _remap_bindings(b: DataFrame, node_map, edge_map) -> DataFrame:
    """Rename a compiled sub-pattern's positional columns (n{j} / e{j}_*)
    into the full pattern's orientation via the position-index maps."""
    mapping = {}
    for j, tgt in node_map.items():
        mapping[f"n{j}"] = f"n{tgt}"
    for j, tgt in edge_map.items():
        for suffix in ("label", "seq", "depth"):
            mapping[f"e{j}_{suffix}"] = f"e{tgt}_{suffix}"
    return b.select([F.col(c).alias(mapping.get(c, c)) for c in b.columns])


def _binding_col_order(c: str) -> tuple:
    """Canonical binding column order: n0, e0_*, n1, e1_*, …"""
    if c.startswith("n") and c[1:].isdigit():
        return (2 * int(c[1:]), 0, c)
    return (2 * int(c[1:].split("_")[0]) + 1, 1, c)


def exclude_edges(g: Graph, bindings: DataFrame,
                  not_edges, cypher_nulls: bool = False) -> DataFrame:
    """Negation between BOUND pattern positions — Cypher's
    ``WHERE NOT (a)-[:X]->(b)`` as an anti-join (the reference has no
    negation; parity-plus). ``not_edges`` is a list of
    ``(src_pos, E(...), dst_pos)``: drop every binding row where an edge
    matching the spec connects position ``src_pos`` to ``dst_pos``.

    Only bound-to-bound negation exists by design: a negated hop to an
    unbound node means "every non-neighbor" — a cross product no engine
    should run at corpus scale (see ``pattern.py`` module doc). Scale
    shape: one LEFT ANTI hash join per constraint on the composite
    (src, dst) key; the edge side carries the spec's label/direction/
    where filters down to the scan.

    NULL positions (a binding that came through an ``optional`` hop
    unmatched) are KEPT: the anti-join condition evaluates to NULL, so
    the row survives — read as "the endpoint doesn't exist, so no such
    edge exists either". Note this diverges from Cypher, whose
    ``WHERE NOT (a)-[:X]->(b)`` with NULL ``b`` evaluates to NULL and
    FILTERS the row; pass ``cypher_nulls=True`` for that behavior (rows
    with a NULL at either negated position are dropped BEFORE the
    anti-join). Pinned by
    ``test_pattern_negation_keeps_null_optional_bindings`` (default) and
    ``test_pattern_negation_cypher_nulls_drops_unmatched_optionals``."""
    for a, espec, b in not_edges:
        if espec.several is not None or espec.optional:
            raise ValueError(
                "not_edges specs must be plain single hops "
                "(no several/optional)")
        for pos in (a, b):
            if f"n{pos}" not in bindings.columns:
                raise ValueError(
                    f"not_edges position {pos} is not bound "
                    f"(columns: {sorted(bindings.columns)})")
        if cypher_nulls:
            bindings = bindings.filter(
                F.col(f"n{a}").isNotNull() & F.col(f"n{b}").isNotNull())
        rel = edge_relation(g, espec).select(
            F.col("src").alias("__na"), F.col("dst").alias("__nb"))
        bindings = bindings.join(
            rel,
            (bindings[f"n{a}"] == rel["__na"])
            & (bindings[f"n{b}"] == rel["__nb"]),
            "left_anti",
        )
    return bindings


def _apply_names(pattern: Pattern, bindings: DataFrame,
                 cypher_nulls: bool = False) -> DataFrame:
    """Rename positional binding columns to the specs' variable names:
    node ``name`` replaces ``n{i}``; edge ``name`` prefixes its columns
    (``{name}_label``, ``{name}_seq``, ``{name}_depth``). Unnamed
    positions keep their positional names.

    A REPEATED node variable closes a cycle, exactly like Cypher's
    ``(a)-->(b)-->(a)`` (the EDSL this surface mirrors,
    ``Cypher.hs:62-144``, stops at chains — parity-plus): every later
    occurrence is unified with the first by an equality filter on the
    positional columns, and the later columns are dropped so the
    variable appears ONCE in the output. Catalyst pushes the equality
    into the final hop's join condition (it references columns from both
    join sides), so a triangle motif executes as an equi-join on BOTH
    endpoint keys — no post-hoc all-2-paths materialization; each
    occurrence's own label/id constraints still prune at its scan.

    NULL positions (unmatched ``optional`` hops) at a repeated variable
    are KEPT by default — same house rule as :func:`exclude_edges`: an
    endpoint that doesn't exist cannot contradict the cycle. With
    ``cypher_nulls=True`` the plain equality applies (NULL comparisons
    drop the row), matching Cypher's NULL-propagating semantics.

    Repeated EDGE names still raise: parallel edges make "same edge
    twice" ambiguous without a unique edge id, and Cypher forbids
    repeating a relationship variable within one pattern too."""
    by_name: "dict[str, list[int]]" = {}
    for i, spec in enumerate(pattern.node_specs):
        if spec.name:
            by_name.setdefault(spec.name, []).append(i)
    dropped = set()
    # NULL-tolerance is computed PER POSITION, not per pattern: only
    # node positions strictly after the first optional hop can ever be
    # NULL (the compiler forces every hop after the first optional one
    # to be optional too), so an equality whose unified positions all
    # close before that hop stays a plain `==` that Catalyst folds into
    # the closing join's hash keys — mixing an optional tail onto a
    # cycle that closes earlier no longer forces an OR-isnull residual
    # join on the cycle.
    first_opt = next(
        (i for i, e in enumerate(pattern.edge_specs) if e.optional), None)

    def _nullable(pos: int) -> bool:
        return first_opt is not None and pos > first_opt

    for name, ps in by_name.items():
        first = ps[0]
        for later in ps[1:]:
            eq = F.col(f"n{first}") == F.col(f"n{later}")
            if not cypher_nulls:
                if _nullable(first):
                    eq = eq | F.col(f"n{first}").isNull()
                if _nullable(later):
                    eq = eq | F.col(f"n{later}").isNull()
            bindings = bindings.filter(eq)
            dropped.add(f"n{later}")
    ren: "dict[str, str]" = {
        f"n{ps[0]}": name for name, ps in by_name.items()}
    for i, spec in enumerate(pattern.edge_specs):
        if spec.name:
            for suffix in ("label", "seq", "depth"):
                ren[f"e{i}_{suffix}"] = f"{spec.name}_{suffix}"
    targets = list(ren.values())
    clash = {t for t in targets if targets.count(t) > 1} | (
        set(targets) & (set(bindings.columns) - set(ren) - dropped))
    if clash:
        raise ValueError(
            f"duplicate binding names: {sorted(clash)} — edge variable "
            "names must be unique within a pattern, and no name may "
            "collide with another position's column")
    return bindings.select(*[
        F.col(c).alias(ren[c]) if c in ren else F.col(c)
        for c in bindings.columns if c not in dropped
    ])


def table(g: Graph, pattern: Pattern, quick: bool = True,
          not_edges=None, named: bool = False,
          cypher_nulls: bool = False) -> DataFrame:
    """Evaluate a pattern → bindings DataFrame (``table``, ``Cypher.hs:423-427``).

    ``not_edges=[(i, E(...), j)]`` anti-joins away bindings where such an
    edge connects position i to position j (:func:`exclude_edges`).
    Patterns with ``optional`` hops always evaluate left→right (the
    cost-based reversal would put required hops after optional ones).
    ``named=True`` renames binding columns to the specs' variable names
    (``N(name='c')`` / the ``c`` of a motif string's ``(c:CUSTOMER)``) —
    the final-consumption view; the positional ``n0, e0_*`` scheme stays
    the default because every composition helper
    (``flat_table``/``nested_layers``/``exclude_edges``) keys on it.
    Under ``named=True`` a REPEATED node variable unifies its positions —
    Cypher's ``(a)-->(b)-->(a)`` cycle — see :func:`_apply_names`.

    ``cypher_nulls=True`` switches the NULL semantics of both
    ``not_edges`` and repeated-variable unification from the engine's
    NULL-keeps default to Cypher's NULL-propagating drop (rows whose
    constrained positions are NULL — unmatched ``optional`` hops — are
    filtered instead of kept).

    ``quick=True`` evaluates left→right as written (``evalLtoR``).
    ``quick=False`` is the cost-based strategy (``runOnE``,
    ``Cypher.hs:717-785``): seed the join chain from the cheapest node spec
    ANYWHERE in the chain — the reference's ``minI`` picks any column
    (``Cypher.hs:586-607``), not just an end — measured by the graph's
    cached per-label row counts (:meth:`Graph.label_counts`, real
    statistics where the reference has only the 3-bucket ``compl`` model).
    An interior minimum splits the pattern at that node and compiles
    outward both ways (each side's join chain starts from the selective
    frontier), joining the halves back on the shared node; Catalyst/AQE
    does statistics-based ordering within each chain.
    """
    if named:
        return _apply_names(
            pattern,
            table(g, pattern, quick, not_edges,
                  cypher_nulls=cypher_nulls),
            cypher_nulls=cypher_nulls)
    if any(e.optional for e in pattern.edge_specs):
        quick = True
    if not_edges:
        return exclude_edges(g, table(g, pattern, quick), not_edges,
                             cypher_nulls=cypher_nulls)
    if not quick:
        costs = [_endpoint_cost(g, s) for s in pattern.node_specs]
        k = len(costs)
        i = min(range(k), key=lambda j: costs[j])  # ties → leftmost
        if i == k - 1 and k > 1:
            rev = compile_pattern(g, pattern.reversed())
            return _remap_bindings(
                rev,
                {j: k - 1 - j for j in range(k)},
                {j: k - 2 - j for j in range(k - 1)},
            )
        if 0 < i < k - 1:
            # split at the cheap interior node: left half reversed (seeded
            # at i, walking back to 0), right half as written (seeded at i)
            left = Pattern(pattern.specs[: 2 * i + 1]).reversed()
            right = Pattern(pattern.specs[2 * i:])
            lb = _remap_bindings(
                compile_pattern(g, left),
                {j: i - j for j in range(i + 1)},
                {j: i - 1 - j for j in range(i)},
            )
            rb = _remap_bindings(
                compile_pattern(g, right),
                {j: i + j for j in range(k - i)},
                {j: i + j for j in range(k - 1 - i)},
            )
            joined = lb.join(rb, on=[f"n{i}"], how="inner")
            return joined.select(sorted(joined.columns, key=_binding_col_order))
    return compile_pattern(g, pattern)


def temp(g: Graph, pattern: Pattern, quick: bool = True) -> DataFrame:
    """Evaluate and cache for reuse in later queries (``temp``,
    ``Cypher.hs:429,473-479``; ``README.md:230-236``)."""
    return table(g, pattern, quick).cache()


def flat_table(g: Graph, pattern: Pattern, quick: bool = True) -> DataFrame:
    """The reference's flattened ``table`` view (``toNE``/``reduceAttrs``,
    ``Cypher.hs:546-565``): one row per pattern position with the sorted
    distinct node set bound at that position."""
    b = table(g, pattern, quick)
    ncols = [c for c in b.columns if c.startswith("n") and c[1:].isdigit()]
    parts = [
        b.agg(F.sort_array(F.collect_set(F.col(c))).alias("node_set")).select(
            F.lit(int(c[1:])).alias("position"), "node_set")
        for c in sorted(ncols, key=lambda c: int(c[1:]))
    ]
    return union_all(parts)


def nested_layers(bindings: DataFrame, upto: int | None = None) -> DataFrame:
    """The nested ``temp`` layer view (``NAttr Nodes2..Nodes9``,
    ``Table.hs:21-32``; ``README.md:154-163``): group by the path prefix and
    collect the last position's nodes — hop k's result as who-reached-what."""
    ncols = sorted(
        [c for c in bindings.columns if c.startswith("n") and c[1:].isdigit()],
        key=lambda c: int(c[1:]),
    )
    if upto is not None:
        ncols = ncols[: upto + 1]
    *prefix, last = ncols
    if not prefix:
        return bindings.agg(F.sort_array(F.collect_set(last)).alias("layer"))
    return (
        bindings.groupBy(*prefix)
        .agg(F.sort_array(F.collect_set(last)).alias("layer"))
        .orderBy(*prefix)
    )


def shortest_paths(g: Graph, start: N, label: str | None = None,
                   direction: str | None = "r",
                   max_hops: int | None = None) -> DataFrame:
    """BFS shortest-path lengths from every node matching ``start`` —
    the reference lists shortestPath as TODO (``doc/Neo4j.md:179-197``);
    here it falls out of the unbounded-repeat machinery: the visited-set
    frontier loop records each (source, node) pair at its FIRST reach,
    which is the minimum hop count. Returns (n0, n1, hops)."""
    pat = Pattern([start, E(attr=[label] if label else None, direction=direction,
                            several=(1, max_hops)), N()])
    b = compile_pattern(g, pat)
    # Aggregate min(depth) UNCONDITIONALLY: with max_hops=None both the BFS
    # visited-set branch and the min-plus closure branch already emit one
    # min-depth row per pair, but relying on that keeps correctness coupled
    # to both strategies' dedup behavior staying aligned — the groupBy is a
    # no-op on already-minimal rows and makes the contract explicit.
    return b.groupBy("n0", "n1").agg(
        F.min("e0_depth").cast("long").alias("hops")
    )


def appl(df: DataFrame, col: str, fn) -> DataFrame:
    """Post-process a collected node-set/layer column (``appl``,
    ``Cypher.hs:179-192``): apply an array→array Column function inside the
    nesting level — e.g. the SortNodes example's sort-then-reinsert
    (``test/examples/SortNodes.hs:38-43``) is
    ``appl(flat_table(...), "node_set", lambda c: F.sort_array(c, asc=False))``."""
    return df.withColumn(col, fn(F.col(col)))


# ------------------------------------------------------------- create_mem

class GraphDiff:
    """``GraphDiff`` (``Cypher.hs:445-461``): what a create run changed.

    The reference's record carries node diffs too (``diffDelNodes`` /
    ``diffNewNodes``) but never populates them (``runOnE`` threads them
    through unchanged, ``Cypher.hs:717-737``); here ``nodes_added`` is real
    (explicit-id specs referencing ids absent from the node table) and
    ``nodes_deleted`` is the always-empty surface twin."""

    def __init__(self, edges_added: DataFrame, edges_deleted: DataFrame,
                 nodes_added: DataFrame | None = None,
                 nodes_deleted: DataFrame | None = None):
        self.edges_added = edges_added
        self.edges_deleted = edges_deleted
        self.nodes_added = nodes_added
        self.nodes_deleted = nodes_deleted


def create_mem(g: Graph, pattern: Pattern) -> tuple[Graph, GraphDiff]:
    """``createMem`` (``Cypher.hs:431-433,481-484``): materialize the
    pattern's edges into the graph with overwrite semantics, returning the
    delta (``overlaps``, ``Cypher.hs:868-889``).

    Hop candidates follow the reference's *walked-path* shape
    (``walkPaths`` with create=True only ever hands ``overlaps`` edges
    whose source is the current frontier, ``Cypher.hs:804-812``): hop 0
    starts from spec 0's nodes, hop i+1 starts from the targets hop i
    actually wrote — NOT the full spec_i × spec_{i+1} cross product, which
    both diverges semantically on multi-hop patterns and is an O(|A|·|B|)
    blow-up at scale. Per (src,label) the highest-dst candidate wins and
    lands at ``edge_seq=1`` (overwrite, ``FastAccess.hs:302-311``); a
    different pre-existing seq-1 target is displaced and reported deleted.
    Requires finite node specs and single-label, non-`several` edge specs.
    """
    node_specs = pattern.node_specs
    edge_specs = pattern.edge_specs
    added_parts, deleted_parts = [], []
    edges = g.edges
    frontier = None  # hop i>0 starts from hop i-1's written targets

    for i, espec in enumerate(edge_specs):
        if espec.several is not None or not espec.attr or len(espec.attr) != 1:
            raise ValueError("create_mem requires single-label, non-variable edge specs")
        label = espec.attr[0]
        if frontier is None:
            left = materialize_node_spec(g, node_specs[i], "src")
        else:
            left = frontier  # already ⊆ spec_i's node set (hop i-1's right side)
        right = materialize_node_spec(g, node_specs[i + 1], "dst")
        # overwrite: one candidate per (src,label) wins at seq 1; the winner
        # ordering (descending dst, the deterministic stand-in for spec
        # order) is independent of src, so the frontier × spec cross product
        # + per-src window collapses to ONE scalar aggregate of the right
        # spec broadcast onto every frontier row (1-row build side → the
        # nested-loop degenerates to an append-column pass) — same
        # semantics, O(|frontier|) instead of O(|frontier|·|spec|).
        max_dst = right.agg(F.max("dst").alias("dst"))
        winner = (
            left.crossJoin(F.broadcast(max_dst))
            .filter(F.col("dst").isNotNull())  # empty spec → no candidates
            .withColumn("label", F.lit(label))
            .withColumn("labels", F.array(F.lit(label)))
            .withColumn("is_back", F.lit(False))
            .withColumn("edge_seq", F.lit(1).cast("long"))
            .select(*EDGE_COLS)
        )
        old_first = edges.filter(
            (F.col("label") == label) & (F.col("edge_seq") == 1) & (~F.col("is_back"))
        ).select("src", "label", F.col("dst").alias("_old_dst"))
        vs_old = winner.select("src", "label", "dst").join(old_first, ["src", "label"], "left")
        added_parts.append(
            vs_old.filter(F.col("_old_dst").isNull() | (F.col("_old_dst") != F.col("dst")))
            .select("src", "label", "dst")
        )
        deleted_parts.append(
            vs_old.filter(F.col("_old_dst").isNotNull() & (F.col("_old_dst") != F.col("dst")))
            .select("src", "label", F.col("_old_dst").alias("dst"))
        )
        keep = edges.join(winner.select("src", "label", "edge_seq", "is_back"),
                          ["src", "label", "edge_seq", "is_back"], "left_anti")
        edges = union_all([keep, winner], by_name=True)
        frontier = winner.select(F.col("dst").alias("src")).distinct()

    added = union_all(added_parts)
    deleted = union_all(deleted_parts)

    # node diffs: explicit-id specs can reference ids the node table lacks
    spec_ids = [int(i) for s in node_specs if s.ids is not None for i in s.ids]
    if spec_ids and not g.nodes.isEmpty():
        ids_df = local_df(g.spark, [(i,) for i in sorted(set(spec_ids))], "id long")
        nodes_added = ids_df.join(g.nodes.select("id"), "id", "left_anti")
    else:
        nodes_added = local_df(g.spark, [], "id long")
    nodes_deleted = local_df(g.spark, [], "id long")
    return (Graph(g.spark, g.nodes, edges, g.ranges),
            GraphDiff(added, deleted, nodes_added, nodes_deleted))


def graph_create(g: Graph, pattern: Pattern) -> Graph:
    """``graphCreate`` (``Cypher.hs:441-442`` — declared but a no-op in the
    reference; real here): materialize the pattern's edges and return the
    updated graph, discarding the diff."""
    new_graph, _ = create_mem(g, pattern)
    return new_graph


def graph_query(g: Graph, pattern: Pattern, quick: bool = True) -> Graph:
    """Evaluate → result as a *graph* (``graphQuery``, ``Cypher.hs:438-439`` —
    a stub in the reference, ``Cypher.hs:895-898``; real here): the subgraph
    of matched nodes and traversed edges."""
    b = table(g, pattern, quick)
    ncols = sorted([c for c in b.columns if c.startswith("n") and c[1:].isdigit()],
                   key=lambda c: int(c[1:]))
    node_ids = union_all([b.select(F.col(c).alias("id")) for c in ncols]).distinct()
    nodes = g.nodes.join(node_ids, "id", "left_semi") if not g.nodes.isEmpty() else g.nodes

    edge_parts = []
    for i in range(len(ncols) - 1):
        if f"e{i}_label" in b.columns:
            edge_parts.append(
                b.select(
                    F.col(f"n{i}").alias("src"),
                    F.col(f"n{i+1}").alias("dst"),
                    F.col(f"e{i}_label").alias("label"),
                    F.col(f"e{i}_seq").alias("edge_seq"),
                ).distinct()
            )
    if edge_parts:
        edges = g.edges.join(union_all(edge_parts).distinct(),
                             ["src", "dst", "label", "edge_seq"], "left_semi")
    else:
        edges = g.edges.limit(0)
    return Graph(g.spark, nodes, edges, g.ranges)
