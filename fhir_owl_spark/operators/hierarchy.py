"""Subsumption hierarchy: transitive closure + transitive reduction.

The reference computes this via a reasoner's transitive superclass relation
plus an in-memory reduction (GraphUtils.transitiveReduction,
GraphUtils.java:53-175 — its own comment calls the core step "really
doing a self-join", GraphUtils.java:131-133). ``build_hierarchy`` has two
paths, split by ``PipelineConfig.small_graph_threshold`` (edge and concept
rows):

  driver      — at or below the threshold, like the reference, the whole
                graph is reduced in driver memory by ONE kernel
                (``_driver_hierarchy``): iterative Tarjan SCC condensation,
                then one big-int OR pass over the condensed DAG
                (direct = ancestors & ~indirect). Cycles are detected
                exactly, at any depth; no iteration cap applies.
  distributed — above it, set-oriented DataFrame programs:
    closure   — semi-naive fixpoint: join only the frontier (new pairs) with
                the base edges each round, exactly the reference's
                queue-based BFS (GraphUtils.java:13-31) one frontier at a
                time. Driver loops; ``localCheckpoint`` per iteration
                truncates lineage so the plan does not grow with depth.
                Iterations = hierarchy depth, capped by
                ``max_closure_iterations``.
    reduction — direct parents = closure MINUS (closure ∘ closure): one
                self-join + one left-anti join, no recursion, no driver data.

Scale note: ontology graphs are tiny next to transcripts (≤10^7 edges),
but the distributed path handles a 10^9-edge hierarchy: each iteration is
a shuffle-partitioned hash join, AQE coalesces the frontier as it shrinks.

Cycle parity: the reference aborts on a hierarchy cycle
(RuntimeException "Cycle found...", GraphUtils.java:146). Both paths raise
``HierarchyCycleError("Cycle found in hierarchy involving: <member>")``
naming a cycle member in ``abort`` mode: the driver kernel on the first
strongly connected component with more than one member, the loop on the
first child==parent closure row. ``group`` mode treats each cycle as an
equivalence set instead (see ``PipelineConfig.equivalence_mode``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..schemas import OWL_NOTHING, OWL_THING, TOP_ENTITIES


class HierarchyCycleError(RuntimeError):
    pass


# AUTO broadcast cutoff shared by transitive_closure and reachable_set:
# ≤5M deduped edge rows ≈ low hundreds of MB — fits executor memory
# (measured ~1.6× faster than shuffle joins at 150k edges).
BROADCAST_EDGE_ROW_LIMIT = 5_000_000


def _closure_functional(
    base: DataFrame,
    pairs_pdf,
    child_col: str,
    parent_col: str,
    max_iterations: int,
) -> DataFrame:
    """Closure of a FUNCTIONAL graph (out-degree ≤ 1) in one map stage.

    Every node has a unique upward chain, so the closure is exactly
    {(n, anc) : anc on n's chain} — computable per edge row with a
    broadcast child→parent map, no joins. The driver walk validates the
    same invariants the iterative loop probes for, raising the same
    HierarchyCycleError at operator-construction time: a reachable
    cycle, or a chain deeper than ``max_iterations``. Driver memory is
    the class the loop already commits to — the broadcast hash relation
    the loop builds per probe job collects the identical rows.
    ``pairs_pdf`` is the deduplicated pandas edge frame the caller
    already pulled for the stats probe.
    """
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    # tolist() unboxes np scalars to plain Python values: a dict of
    # np.int64 pickles ~20x larger/slower (one reconstruct per scalar),
    # which taxes the broadcast on the driver AND every worker unpickle
    parent: dict = dict(
        zip(pairs_pdf.iloc[:, 0].tolist(), pairs_pdf.iloc[:, 1].tolist())
    )
    # depth/cycle validation on the UNIQUE frontier: step the distinct
    # ancestor set in lockstep up to max_iterations (chains converge, so
    # the set shrinks fast); anything still alive is a reachable cycle
    # or a too-deep chain — re-walk the survivors in plain Python to
    # tell the two apart (rare path, cost irrelevant).
    frontier = set(parent.values())
    steps = 1
    while steps <= max_iterations:
        frontier = {parent[x] for x in frontier if x in parent}
        if not frontier:
            break
        steps += 1
    if frontier:
        for n0 in frontier:
            on_path: set = set()
            c = n0
            while c in parent:
                if c in on_path:
                    raise HierarchyCycleError(
                        f"Cycle found in hierarchy involving: {c}"
                    )
                on_path.add(c)
                c = parent[c]
        raise HierarchyCycleError(
            f"Hierarchy deeper than {max_iterations} levels — cycle suspected"
        )

    sc = base.sparkSession.sparkContext
    bparent = sc.broadcast(parent)
    child_t = base.schema[base.columns[0]].dataType
    parent_t = base.schema[base.columns[1]].dataType
    out_schema = StructType(
        [StructField("child", child_t), StructField("parent", parent_t)]
    )

    def expand(batches):
        pm = bparent.value
        for pdf in batches:
            pdf = pdf.rename(
                columns={pdf.columns[0]: "child", pdf.columns[1]: "parent"}
            )
            outs = [pdf[["child", "parent"]]]
            # object dtype: missing keys become None instead of coercing
            # int64 values through float64 (lossy past 2^53); Arrow casts
            # the object columns back to the declared schema exactly
            cc = pdf["child"].astype(object)
            pp = pdf["parent"].astype(object)
            for _ in range(max_iterations):
                nxt = pp.map(pm)
                mask = nxt.notna()
                if not mask.any():
                    break
                cc = cc[mask]
                pp = nxt[mask]
                outs.append(
                    pd.DataFrame({"child": cc.values, "parent": pp.values})
                )
            yield pd.concat(outs, ignore_index=True)

    return base.mapInPandas(expand, out_schema).select(
        F.col("child").alias(child_col), F.col("parent").alias(parent_col)
    )


def transitive_closure(
    edges: DataFrame,
    max_iterations: int = 64,
    child_col: str = "child_iri",
    parent_col: str = "parent_iri",
    broadcast_edges: bool | None = None,
    allow_cycles: bool = False,
) -> DataFrame:
    """All (descendant, ancestor) pairs reachable through ``edges``.

    Semi-naive evaluation: frontier_{i+1} = (frontier_i ⋈ base) − closure_i.
    One driver action per iteration (combined emptiness + cycle probe);
    frontier and closure are localCheckpoint-ed so the plan stays flat at
    any depth. With broadcast_edges=True the per-iteration join is a
    broadcast hash join — zero shuffles in the loop body except the
    frontier distinct. Default None = AUTO: broadcast when the deduped
    edge table is ≤5M rows (low hundreds of MB — fits executor memory;
    measured ~1.6× faster at 150k edges); the count is free because the
    base is localCheckpoint-ed anyway. Pass False explicitly for the
    billion-edge shuffle path.
    """
    # out-degree ≤ 1 (functional graph / forest): every node has a UNIQUE
    # upward path, so frontier_i is exactly the distance-(i+1) pair set —
    # already distinct, and disjoint from every earlier part. The loop's
    # distinct() and visited anti-join are then provably no-ops and the
    # iteration body collapses to ONE map-only broadcast-join stage
    # (guide §2.4: remove shuffles outright). Detected in the same probe
    # job the AUTO broadcast sizing already pays; the same probe also
    # skips the base dedup SHUFFLE entirely when the raw edge rows are
    # already unique (the common case for edge tables). Cycle parity
    # holds: on a functional graph a cycle surfaces as a child==parent
    # pair within cycle-length iterations, which the existing probe
    # aborts on; with allow_cycles the anti-join is load-bearing for
    # termination, so the fast path is skipped.
    single_parent = False
    raw = (
        edges.select(
            F.col(child_col).alias("child"), F.col(parent_col).alias("parent")
        )
        .filter(F.col(child_col) != F.col(parent_col))
    )
    if broadcast_edges is None:
        # a narrow input (one small parquet file → 1-2 scan partitions)
        # must not starve the loop: when the dedup shuffle is skipped
        # below, ITS partitioning was what spread the frontier over the
        # cluster — restore it with a plain round-robin repartition
        # (same shuffle bytes, no aggregation)
        default_par = edges.sparkSession.sparkContext.defaultParallelism
        if raw.rdd.getNumPartitions() < default_par:
            raw = raw.repartition(default_par)
        # LAZY checkpoint fused with the first probe (same trick as the
        # loop body): the probe's job materializes the blocks — one job
        # instead of an eager-checkpoint job followed by the probe job
        raw = raw.localCheckpoint(eager=False)
        n_rows = raw.count()
        if n_rows <= BROADCAST_EDGE_ROW_LIMIT:
            # The raw rows fit the broadcast limit, i.e. the loop below
            # would ship them to the driver anyway to build its broadcast
            # hash relation — pull them ONCE over Arrow and derive the
            # distinct/out-degree stats in pandas instead of paying the
            # count_distinct Expand aggregation (3x the rows through two
            # exchanges; measured ~2x the plain count's cost).
            edge_pdf = raw.toPandas()
            pairs_pdf = edge_pdf.drop_duplicates()
            n_pairs = len(pairs_pdf)
            broadcast_edges = True
            single_parent = (
                n_pairs == pairs_pdf.iloc[:, 0].nunique() and not allow_cycles
            )
            base = raw if n_rows == n_pairs else (
                raw.distinct().localCheckpoint(eager=True)
            )
            if single_parent:
                # Functional graph: validate cycles/depth eagerly on the
                # driver (same HierarchyCycleError timing as the loop's
                # probes), then expand every node's UNIQUE ancestor chain
                # in one map-only Arrow stage over the cached edge frame:
                # zero joins, zero shuffles, one job for the caller's
                # action instead of a probe-per-batch loop.
                return _closure_functional(
                    base, pairs_pdf, child_col, parent_col, max_iterations
                )
        else:
            stats = raw.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col("child"), F.col("parent")).alias("np"),
                F.count_distinct(F.col("child")).alias("nc"),
            ).first()
            base = raw if stats["n"] == stats["np"] else (
                raw.distinct().localCheckpoint(eager=True)
            )
            broadcast_edges = stats["np"] <= BROADCAST_EDGE_ROW_LIMIT
            single_parent = stats["np"] == stats["nc"] and not allow_cycles
    else:
        # explicit broadcast choice: no probe job — dedup unconditionally
        base = raw.distinct().localCheckpoint(eager=True)

    # Renamed-column copy avoids self-join alias ambiguity (aliases do not
    # survive localCheckpoint-ed plans reliably).
    hop = base.select(F.col("child").alias("mid"), F.col("parent").alias("anc"))
    if broadcast_edges:
        hop = F.broadcast(hop)

    # The closure is kept as a LIST of per-round checkpointed frontiers
    # (disjoint by construction — the anti-join guarantees it) instead of
    # one growing re-checkpointed frame: re-materializing the whole
    # closure every round costs an extra job + O(depth × |closure|)
    # rewrites, while a union of already-cached frontier blocks costs
    # nothing until read.
    import functools

    def step(fr: DataFrame) -> DataFrame:
        return fr.join(hop, F.col("parent") == F.col("mid")).select(
            "child", F.col("anc").alias("parent")
        )

    # On the single-parent fast path each step is a map-only broadcast
    # join, so the loop is pure driver-round-trip latency — run TWO
    # steps per probe (both lazy checkpoints materialize in the probe's
    # one job), halving job count on deep chains. The cycle check scans
    # the UNION of both steps: on a functional graph the child==parent
    # marker appears only at distances that are multiples of the cycle
    # length, so probing alternate frontiers alone could miss it.
    steps_per_probe = 2 if single_parent else 1

    closure_parts = [base]
    frontier = base
    it = 0
    while True:
        if it >= max_iterations:
            raise HierarchyCycleError(
                f"Hierarchy deeper than {max_iterations} levels — cycle suspected"
            )
        batch: list[DataFrame] = []
        for _ in range(min(steps_per_probe, max_iterations - it)):
            stepped = step(frontier)
            if not single_parent:
                stepped = stepped.distinct()
                visited = functools.reduce(
                    DataFrame.union, closure_parts + batch
                )
                stepped = stepped.join(visited, ["child", "parent"], "left_anti")
            # LAZY checkpoint fused with the probe: the probe action both
            # materializes the frontier's cached blocks and returns the
            # emptiness+cycle stats — ONE job per probe round instead of
            # eager checkpoint jobs followed by a probe job (measured 25%
            # of loop wall-time at sf0.1)
            frontier = stepped.localCheckpoint(eager=False)
            batch.append(frontier)
            it += 1
        probe = (
            functools.reduce(DataFrame.union, batch)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(
                    F.when(F.col("child") == F.col("parent"), F.col("child"))
                ).alias("cyc"),
            )
            .first()
        )
        if probe["cyc"] is not None and not allow_cycles:
            raise HierarchyCycleError(
                f"Cycle found in hierarchy involving: {probe['cyc']}"
            )
        # with allow_cycles the loop still terminates: the visited-set
        # anti-join means each (child, ancestor) pair enters the frontier
        # at most once, so the frontier empties at the graph's fixpoint
        if probe["n"] == 0:
            break
        # empty tail parts are harmless in the union; non-empty parts are
        # disjoint distance sets (fast path) / anti-joined (general path)
        closure_parts.extend(batch)
    closure = functools.reduce(DataFrame.union, closure_parts)
    return closure.select(
        F.col("child").alias(child_col), F.col("parent").alias(parent_col)
    )


def reachable_set(
    edges: DataFrame,
    seeds: list[str],
    child_col: str = "child",
    parent_col: str = "parent",
    direction: str = "up",
    max_iterations: int = 64,
    broadcast_edges: bool | None = None,
    stop_at: str | None = None,
) -> DataFrame:
    """Seeded-frontier BFS: all nodes reachable from ``seeds`` following
    edges upward (child→parent: the ancestor set) or downward
    (parent→child: the descendant set). Returns one column ``node``
    (seeds excluded unless they are reachable from themselves via a cycle).

    This is the single-probe shape for $subsumes / descendant-of queries:
    cost scales with |reached set| × depth, NOT with the full graph closure
    (transitive_closure is all-pairs — the wrong plan for one lookup on a
    SNOMED-scale graph). Termination is guaranteed by the visited-set
    anti-join even on cyclic inputs.

    broadcast_edges default None = AUTO, mirroring transitive_closure
    (shared BROADCAST_EDGE_ROW_LIMIT): broadcast when the edge table is
    small enough (each hop is then a broadcast hash join — zero shuffles
    in the loop body except the frontier distinct); above that,
    shuffle-join the frontier instead — an unconditional broadcast would
    blow Spark's broadcast limit / driver memory on exactly the
    graph-scale is-a tables these subsumes/descendants queries target.
    AUTO materializes the hop table once (localCheckpoint) so the sizing
    count is not a wasted scan and the loop reuses it; an EXPLICIT
    broadcast_edges skips both the checkpoint and the count — single
    $subsumes probes with a known-bounded edge table stay
    O(path depth) with no corpus-scale materialization job up front.
    """
    import functools

    spark = edges.sparkSession
    hop = _hop_table(edges, direction, child_col, parent_col, broadcast_edges)
    frontier = spark.createDataFrame([(s,) for s in seeds], ["node"]).localCheckpoint(
        eager=True
    )
    visited_parts = _seeded_bfs(
        frontier, hop, ["node"], max_iterations, stop_at, "reachable_set"
    )
    return (
        functools.reduce(DataFrame.union, visited_parts)
        if visited_parts
        else spark.createDataFrame([], "node string")
    )


def _hop_table(edges, direction, child_col, parent_col, broadcast_edges):
    """Single-hop (node → nxt) table for the seeded BFS family, with AUTO
    broadcast sizing (localCheckpoint + bounded count) when
    broadcast_edges is None — see reachable_set's docstring."""
    if direction == "up":
        src, dst = child_col, parent_col
    elif direction == "down":
        src, dst = parent_col, child_col
    else:
        raise ValueError(direction)
    hop = edges.select(F.col(src).alias("node"), F.col(dst).alias("nxt")).filter(
        F.col("node") != F.col("nxt")
    )
    if broadcast_edges is None:
        hop = hop.localCheckpoint(eager=True)
        broadcast_edges = hop.count() <= BROADCAST_EDGE_ROW_LIMIT
    return F.broadcast(hop) if broadcast_edges else hop


def _seeded_bfs(
    frontier: DataFrame,
    hop,
    key_cols: list[str],
    max_iterations: int,
    stop_at,
    op_name: str,
    allow_truncation: bool = False,
) -> list[DataFrame]:
    """Shared frontier loop for reachable_set / reachable_pairs: lazy
    checkpoint fused with the emptiness (+ optional stop-target) probe —
    one job per hop; visited kept as disjoint checkpointed frontier parts
    (the frontier is distinct and anti-joined against visited, so the
    parts never overlap and never need re-materializing). ``key_cols`` is
    ["node"] for the pooled set, ["seed", "node"] for per-seed
    attribution. Returns the frontier parts; raises on non-convergence
    (a silently truncated reachable set would give subsumes() false
    negatives — same contract as transitive_closure / dup_clusters)."""
    import functools

    carried = [c for c in key_cols if c != "node"]
    visited_parts: list[DataFrame] = []
    for _ in range(max_iterations):
        stepped = (
            frontier.join(hop, "node")
            .select(*carried, F.col("nxt").alias("node"))
            .distinct()
        )
        if visited_parts:
            stepped = stepped.join(
                functools.reduce(DataFrame.union, visited_parts),
                key_cols,
                "left_anti",
            )
        frontier = stepped.localCheckpoint(eager=False)
        probe = frontier.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("node") == F.lit(stop_at), 1)).alias("hit"),
        ).first()
        if probe["n"] == 0:
            break
        visited_parts.append(frontier)
        if stop_at is not None and probe["hit"] is not None:
            # early exit for single-membership probes ($subsumes): stop the
            # moment the target enters the reached set — per-query cost is
            # O(path depth), not O(full reached set)
            break
    else:
        if not allow_truncation:
            raise HierarchyCycleError(
                f"{op_name} did not converge within {max_iterations} hops — "
                "graph deeper than max_iterations; raise it for this query"
            )
    return visited_parts


def reachable_pairs(
    edges: DataFrame,
    seeds: list[str],
    child_col: str = "child",
    parent_col: str = "parent",
    direction: str = "up",
    max_iterations: int = 64,
    broadcast_edges: bool | None = None,
) -> DataFrame:
    """Multi-seed BFS WITH seed attribution: (seed, node) for every node
    reachable from each seed — the one-pass shape for incremental closure
    maintenance (FHIR $closure-style deltas), where the per-seed pairing
    matters and running `reachable_set` once per seed would cost k
    separate BFS loops.

    Same loop as reachable_set — shared via ``_seeded_bfs`` — but the
    frontier carries the composite (seed, node) key, so cost scales with
    Σ|reached set per seed| × depth — still never the all-pairs closure.
    """
    import functools

    spark = edges.sparkSession
    hop = _hop_table(edges, direction, child_col, parent_col, broadcast_edges)
    seed_frame = spark.createDataFrame(
        [(s, s) for s in seeds], ["seed", "node"]
    ).localCheckpoint(eager=True)
    visited_parts = _seeded_bfs(
        seed_frame, hop, ["seed", "node"], max_iterations, None, "reachable_pairs"
    )
    return (
        functools.reduce(DataFrame.union, visited_parts)
        if visited_parts
        else seed_frame.limit(0)  # schema (incl. seed type) matches the input
    )


def _driver_hierarchy(
    edge_rows: list[tuple[str, str]],
    equivalence_mode: str,
    reroot_nodes: set[str],
) -> list[tuple[str, str]]:
    """Direct-parent edges of ``edge_rows`` (child, parent), computed in
    driver memory: Tarjan SCC condensation, then one big-int OR pass over
    the condensed DAG.

    The ontology side is broadcast-class data by contract (HPO ≈ 18k
    concepts; the reference itself holds the whole graph in one JVM —
    GraphUtils.java:72-74), so at or below ``small_graph_threshold`` the
    driver computes the hierarchy directly instead of scheduling ~4 Spark
    jobs per depth level. Cycles are found exactly, at any depth: in
    ``abort`` mode the first strongly connected component with more than
    one member raises; in ``group`` mode its members share the component's
    external direct parents, a child of the component gets every member as
    a parent, and a declared member (in ``reroot_nodes``) left with no
    parent re-roots at owl:Thing — the same strict-superclass semantics as
    the distributed path.
    """
    ids: dict[str, int] = {}
    names: list[str] = []
    adj: list[list[int]] = []
    for c, p in edge_rows:
        if c == p:
            continue
        ci = ids.get(c)
        if ci is None:
            ci = ids[c] = len(names)
            names.append(c)
            adj.append([])
        pi = ids.get(p)
        if pi is None:
            pi = ids[p] = len(names)
            names.append(p)
            adj.append([])
        adj[ci].append(pi)
    n_nodes = len(names)

    # Iterative Tarjan over child→parent edges. A component is emitted only
    # after every component it can reach, i.e. parents first: component k's
    # ancestors all have indices < k, so its mask only has low bits set.
    order = [0] * n_nodes  # DFS visit number, 0 = unvisited
    low = [0] * n_nodes
    comp = [-1] * n_nodes  # -1 while the node is still on the Tarjan stack
    stack: list[int] = []
    members: list[list[int]] = []
    visit = 0
    for root in range(n_nodes):
        if order[root]:
            continue
        visit += 1
        order[root] = low[root] = visit
        stack.append(root)
        calls = [(root, iter(adj[root]))]
        while calls:
            v, edges_left = calls[-1]
            for w in edges_left:
                if not order[w]:
                    visit += 1
                    order[w] = low[w] = visit
                    stack.append(w)
                    calls.append((w, iter(adj[w])))
                    break
                if comp[w] < 0 and order[w] < low[v]:
                    low[v] = order[w]
            else:
                calls.pop()
                if calls and low[v] < low[calls[-1][0]]:
                    low[calls[-1][0]] = low[v]
                if low[v] == order[v]:
                    k = len(members)
                    scc = []
                    while True:
                        w = stack.pop()
                        comp[w] = k
                        scc.append(w)
                        if w == v:
                            break
                    if len(scc) > 1 and equivalence_mode == "abort":
                        raise HierarchyCycleError(
                            f"Cycle found in hierarchy involving: {names[v]}"
                        )
                    members.append(scc)

    # Reduction over the condensed DAG with ONE big-int OR per edge:
    #   anc[k]      = ⋃_d ({d} ∪ anc[d])   over external successors d
    #   indirect[k] = ⋃_d anc[d]           (reached via ≥2 condensed edges)
    # direct = anc & ~indirect is exactly the transitive reduction. A
    # component's mask is dropped once its last child has read it, so
    # only the masks of the unfinished frontier stay alive.
    readers = [0] * len(members)
    for m in range(n_nodes):
        cm = comp[m]
        for p in adj[m]:
            if comp[p] != cm:
                readers[comp[p]] += 1
    masks = [0] * len(members)
    group = equivalence_mode == "group"
    out: list[tuple[str, str]] = []
    for k, scc in enumerate(members):
        am = im = 0
        for m in scc:
            for p in adj[m]:
                d = comp[p]
                if d == k:
                    continue
                dm = masks[d]
                am |= dm | (1 << d)
                im |= dm
                readers[d] -= 1
                if not readers[d]:
                    masks[d] = 0
        if readers[k]:
            masks[k] = am
        direct = am & ~im
        parents: list[str] = []
        while direct:
            bit = direct & -direct
            parents.extend(names[w] for w in members[bit.bit_length() - 1])
            direct ^= bit
        for m in scc:
            n = names[m]
            out.extend((n, a) for a in parents)
            if (
                group
                and not parents
                and n not in TOP_ENTITIES
                and n in reroot_nodes
            ):
                out.append((n, OWL_THING))
    return out


def transitive_reduction(
    closure: DataFrame, child_col: str = "child_iri", parent_col: str = "parent_iri"
) -> DataFrame:
    """Direct edges of a transitively closed DAG: closure − (closure ∘ closure).

    A pair (c, a) is direct iff no b exists with (c, b) and (b, a) — the
    set form of GraphUtils.filterAncestors (GraphUtils.java:160-175).
    """
    c = closure.select(
        F.col(child_col).alias("child"), F.col(parent_col).alias("parent")
    )
    hop = c.select(F.col("child").alias("mid"), F.col("parent").alias("anc"))
    composed = (
        c.join(hop, F.col("parent") == F.col("mid"))
        .select("child", F.col("anc").alias("parent"))
        .distinct()
    )
    direct = c.join(composed, ["child", "parent"], "left_anti")
    return direct.select(
        F.col("child").alias(child_col), F.col("parent").alias(parent_col)
    )


def build_hierarchy(
    concepts: DataFrame, edges: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Asserted subClassOf → direct-parent edges (child_iri, parent_iri)
    over all non-Nothing, non-unsatisfiable nodes.

    Deprecated nodes stay IN the graph — the reference reduces over all
    classes and filters deprecated parents only at emission
    (FhirOwlService.java:532-541 vs :627-631); plans/build_graph.py does
    the same.

    Implicit ⊑Thing completion: every parentless non-top node gets an edge
    to owl:Thing, standing in for the reasoner's inference that every class
    has Thing among its superclasses (FhirOwlService.java:532-533) — this
    is what terminates every reference concept chain at Thing.
    """
    mode = cfg.equivalence_mode
    th = cfg.small_graph_threshold

    # Driver path: collect the RAW bounded inputs and assemble
    # dropped/nodes/parentless in Python. The ontology side is
    # broadcast-class data by contract (the reference holds the whole
    # graph in one JVM — GraphUtils.java:72-74); two bounded collects on
    # the base tables beat a tree of tiny broadcast joins + a global
    # limit, which costs seconds of pure scheduling latency at this size.
    edge_head = edges.select("child_iri", "parent_iri").limit(th + 1).collect()
    if len(edge_head) <= th:
        concept_head = (
            concepts.select("iri", "unsatisfiable").limit(th + 1).collect()
        )
        if len(concept_head) <= th:
            # positional Row access throughout: ~3× cheaper than by-name
            # lookup at HPO scale (the select above fixes the order)
            dropped_set = {
                r[0] for r in concept_head if r[0] == OWL_NOTHING or bool(r[1])
            }
            node_set = {r[0] for r in concept_head} - dropped_set
            eset = [
                (c, p)
                for c, p in edge_head
                if c != p and c not in dropped_set and p not in dropped_set
            ]
            children = {c for c, _ in eset}
            completed_rows = eset + [
                (n, OWL_THING)
                for n in node_set
                if n not in TOP_ENTITIES and n not in children
            ]
            reduced = _driver_hierarchy(completed_rows, mode, node_set)
            from ..schemas import ONTOLOGY_EDGES

            if reduced:
                # Arrow path: a pandas frame serializes as columnar Arrow
                # batches instead of per-row pickles — measured ~3× faster
                # to first action at HPO scale (19.8k edges)
                import pandas as _pd

                return concepts.sparkSession.createDataFrame(
                    _pd.DataFrame(reduced, columns=["child_iri", "parent_iri"]),
                    ONTOLOGY_EDGES,
                )
            return concepts.sparkSession.createDataFrame([], ONTOLOGY_EDGES)

    # distributed path: the same set logic as DataFrame programs
    dropped = concepts.filter(
        (F.col("iri") == OWL_NOTHING) | F.coalesce("unsatisfiable", F.lit(False))
    ).select("iri")

    nodes = concepts.join(dropped, "iri", "left_anti").select("iri")

    # no .distinct() here: the driver kernel ignores duplicate edges and
    # the distributed path's transitive_closure dedups its base — an extra
    # shuffle would only add latency. (Duplicate rows count toward the
    # small_graph_threshold limit probe — conservative: at worst a graph
    # with <threshold unique edges but >threshold raw rows takes the
    # distributed path, never the reverse.)
    e = (
        edges.filter(F.col("child_iri") != F.col("parent_iri"))
        .join(dropped.withColumnRenamed("iri", "child_iri"), "child_iri", "left_anti")
        .join(dropped.withColumnRenamed("iri", "parent_iri"), "parent_iri", "left_anti")
        .select("child_iri", "parent_iri")
    )

    parentless = (
        nodes.filter(~F.col("iri").isin(list(TOP_ENTITIES)))
        .join(e.select(F.col("child_iri").alias("iri")), "iri", "left_anti")
        .select(
            F.col("iri").alias("child_iri"), F.lit(OWL_THING).alias("parent_iri")
        )
    )
    completed = e.unionByName(parentless)

    # broadcast-vs-shuffle for the loop's edge side is auto-selected by
    # transitive_closure from the deduped edge count (≤5M rows → broadcast)
    closure = transitive_closure(
        completed,
        cfg.max_closure_iterations,
        allow_cycles=(mode == "group"),
    )
    if mode == "group":
        # STRICT closure: drop mutually-reachable pairs — reasoner
        # strict-superclass parity (see PipelineConfig.equivalence_mode).
        # One self-join on the closure; the reverse side carries only
        # equivalence pairs in practice, so the anti-join is cheap.
        rev = closure.select(
            F.col("child_iri").alias("parent_iri"),
            F.col("parent_iri").alias("child_iri"),
        )
        closure = (
            closure.filter(F.col("child_iri") != F.col("parent_iri"))
            .join(rev, ["child_iri", "parent_iri"], "left_anti")
        )
    direct = transitive_reduction(closure)

    if mode == "group":
        # an equivalence set whose only ancestors were in-set lost them all
        # in the strict filter — re-root its members at owl:Thing, exactly
        # where the reasoner would put the set's node (every class has
        # Thing among its strict superclasses unless it IS Thing)
        orphans = (
            nodes.filter(~F.col("iri").isin(list(TOP_ENTITIES)))
            .join(
                direct.select(F.col("child_iri").alias("iri")).distinct(),
                "iri",
                "left_anti",
            )
            .select(
                F.col("iri").alias("child_iri"), F.lit(OWL_THING).alias("parent_iri")
            )
        )
        direct = direct.unionByName(orphans)
    return direct


def k_hop(
    edges: DataFrame,
    seeds: list[str],
    k: int,
    child_col: str = "child",
    parent_col: str = "parent",
    direction: str = "up",
    broadcast_edges: bool | None = None,
) -> DataFrame:
    """(node, hops) for every node within ≤ ``k`` hops of ``seeds`` —
    the bounded neighborhood-expansion query (subgraph extraction
    around an entity, "show me everything 2 links from X"), the
    depth-capped sibling of ``reachable_set``. ``hops`` is the MINIMUM
    hop count (the BFS level of first visit); seeds themselves are not
    rows unless re-reached through a cycle (same convention as
    reachable_set, so the two compose).

    Scale shape: identical to reachable_set — the shared frontier loop
    (one job per hop, lazy checkpoint fused with the emptiness probe,
    AUTO edge broadcast) with truncation at depth k being the POINT
    rather than an error: cost is O(|k-hop neighborhood| × k), never
    the full closure.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = edges.sparkSession
    hop = _hop_table(edges, direction, child_col, parent_col, broadcast_edges)
    frontier = spark.createDataFrame(
        [(s,) for s in seeds], ["node"]
    ).localCheckpoint(eager=True)
    parts = _seeded_bfs(
        frontier, hop, ["node"], k, None, "k_hop", allow_truncation=True
    )
    if not parts:
        return spark.createDataFrame([], "node string, hops int")
    import functools

    return functools.reduce(
        DataFrame.union,
        [
            p.select("node", F.lit(i + 1).cast("int").alias("hops"))
            for i, p in enumerate(parts)
        ],
    )
