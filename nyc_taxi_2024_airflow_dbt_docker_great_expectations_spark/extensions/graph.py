"""Small-graph operators for dedup-cluster canonicalization.

``connected_components`` turns near-dup *pairs* (from MinHash / SimHash /
n-gram Jaccard / embedding cosine) into dedup *clusters*: every document gets
the minimum doc-id reachable through the near-dup relation, which becomes the
cluster's canonical representative.  Survivors of cluster dedup are the rows
where ``component == id``.

Algorithm: alternating **star contraction** (large-star / small-star,
Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14).
Each round rewires edges toward neighborhood minima:

- *large-star*: every node attaches its strictly-larger neighbors to the
  minimum of its neighborhood (including itself);
- *small-star*: edges orient high->low and every node attaches all its
  (smaller) neighbors and itself to the neighborhood minimum.

Both steps preserve connectivity and only ever DECREASE parent pointers;
the edge set converges to a forest of min-rooted stars in O(log n) rounds
— unlike plain min-label propagation, whose round count is the graph
DIAMETER (a pathological near-dup chain of length 10^4 would need 10^4
shuffles; star contraction needs ~14).  Each step is one aggregate + one
equi-join on node ids; state is only edge pairs, never adjacency lists on
the driver.

Convergence is detected EXACTLY, not by signature: a star forest is
chain-free, so the round loop stops when the child->parent->grandparent
join is empty (an O(1)-result count on the shrinking edge set).  The
driver sees only that scalar, never the data.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window, functions as F

from ..execution import materialize_once


class ConvergenceWarning(UserWarning):
    """Raised (as a warning) when iterative label propagation exhausts
    ``max_iter`` before reaching its fixed point — labels may be wrong."""


def _large_star(e: DataFrame) -> DataFrame:
    """Attach each node's strictly-larger neighbors to its neighborhood
    minimum (min over N(u) and u itself).

    The neighborhood minimum comes from a whole-partition window (ONE hash
    exchange on the node id), not a groupBy + join back (two).  No output
    distinct: duplicates collapse in small-star's window and the final
    distinct, and the duplicate mass is bounded by the input's.
    """
    sym = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    # m <= u < v, so the emitted (v, m) is never a self-loop
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high->low, then attach each node and all its (smaller)
    neighbors to the neighborhood minimum.  Same single-exchange window
    shape as large-star; the one distinct here bounds the edge set."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    x = o.withColumn("m", F.min("v").over(Window.partitionBy("u")))  # m < u
    rewired = x.select(
        F.col("v").alias("u"), F.col("m").alias("v")
    ).unionByName(x.select("u", F.col("m").alias("v")))
    return rewired.filter(F.col("u") != F.col("v")).distinct()


def connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
                         max_iter: int = 20, strict: bool = False) -> DataFrame:
    """(node, component) where component = min node id reachable.

    ``edges`` is undirected input (each pair listed once, either direction).

    Alternating star contraction (see module docstring) converges in
    O(log n) rounds for ANY graph shape — chains included — so
    ``max_iter=20`` covers graphs up to ~2^20 nodes per component.  The
    non-convergence guard (warn, or raise when ``strict=True``) is kept as
    a belt-and-braces check; each round is two aggregate+join passes over
    an edge set that only shrinks.
    """
    # checkpoint the raw edges BEFORE deriving anything: both the node set
    # and the contraction rounds read from it, and without the checkpoint
    # each action would re-execute the (typically expensive) upstream
    # similarity join
    e_all = materialize_once(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    # nodes from the UNFILTERED input: a node appearing only in self-loops
    # still labels itself
    nodes = (
        e_all.select(F.col("u").alias("node"))
        .unionByName(e_all.select(F.col("v").alias("node")))
        .distinct()
    )
    e = e_all.filter(F.col("u") != F.col("v"))

    def _non_star_count(df: DataFrame) -> int:
        # EXACT fixpoint test: the edge set is a valid min-rooted star
        # forest iff every (u, v) points downward (v < u), no child has
        # two parents, and no parent is itself a child.  All three fold
        # into one aggregate whose result is a scalar — the data is never
        # collected.  (Downward + single-parent + chain-free => disjoint
        # stars whose root is the component minimum, and connectivity is
        # preserved by every contraction round, so stopping here is exact.)
        parents = df.select(F.col("u").alias("__p")).distinct()
        per_child = (
            df.join(parents, df["v"] == parents["__p"], "left")
            .groupBy("u")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(F.when(F.col("v") > F.col("u"), 1).otherwise(0))
                .alias("__up"),
                F.sum(F.when(F.col("__p").isNotNull(), 1).otherwise(0))
                .alias("__chain"),
            )
        )
        row = per_child.agg(
            F.sum(
                F.when(F.col("__n") > 1, 1).otherwise(0)
                + F.col("__up") + F.col("__chain")
            ).alias("bad")
        ).first()
        return int(row["bad"] or 0)

    converged = False
    for _ in range(max_iter):
        # contract FIRST, then test: almost every input needs at least one
        # round, so checking up front wastes a job; contraction is
        # idempotent on an already-converged star forest.  Each round is a
        # lazy checkpoint: the convergence count's own job materializes it
        # (one job per round), and the next round's plan starts from that
        # leaf — each round reads its input four times, so an uncut
        # lineage would multiply the plan every round.
        e = materialize_once(_small_star(_large_star(e)), storage="lazy")
        if _non_star_count(e) == 0:
            converged = True
            break
    if not converged and _non_star_count(e) > 0:
        msg = (
            f"connected_components exhausted max_iter={max_iter} without "
            "reaching the star-forest fixed point; component labels may be "
            "wrong — raise max_iter (rounds needed ~ log2(nodes))"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, ConvergenceWarning, stacklevel=2)
    # min-aggregate the child->parent edges: at the fixpoint this is a
    # no-op (one parent per child), but on the warned non-converged path a
    # multi-parent child would otherwise emit DUPLICATE (node, component)
    # rows and fan out every downstream join — stale labels are the
    # documented failure mode there, duplicated rows are not
    children = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return (
        nodes.join(children, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def incremental_components(labels: DataFrame, new_edges: DataFrame,
                           node_col: str = "node",
                           comp_col: str = "component",
                           src: str = "id_a", dst: str = "id_b",
                           max_iter: int = 20,
                           strict: bool = False,
                           driver_max_edges: int = 200_000) -> DataFrame:
    """Merge a batch of NEW edges into persisted component labels without
    re-discovering (or even reading) the corpus's own edge set — the
    incremental form of :func:`connected_components` a growing 100 TB
    corpus needs: cluster labels are a warehouse table; each ingest batch
    contributes only its new edges (e.g. from ``probe_ngram_index``) and
    this merge.

    The contraction runs in COMPONENT space, never over the label table:

    1. remap each new edge's endpoints to their current component labels
       (two equi-joins against ``labels``; a brand-new node's provisional
       component is itself), dropping edges internal to one component;
    2. run star contraction on that component graph — BATCH-sized: its
       node set is only the components the batch actually touches, so the
       iterative part never scales with the corpus;
    3. remap: one join of ``labels`` against the (batch-sized, hence
       broadcast) relabel table — a single map-side pass over the big
       side.

    Correctness: every component's label is the MIN node id of its
    members, so the min-reachable label over the component graph equals
    the min node id of the merged component — exactly what full
    re-clustering over (corpus edges UNION new_edges) produces.

    ``labels``: (node, component) — singletons (node == component) are
    preserved.  ``new_edges``: undirected (src, dst) pairs; may reference
    brand-new nodes.  Returns (node, component) over the union of both
    node sets.  Per-batch cost at 100 TB: O(|batch|) shuffled rows plus
    one broadcast-joined scan of the label table.
    """
    la = labels.select(F.col(node_col).alias("__n"),
                       F.col(comp_col).alias("__c"))
    # the edge list is typically an expensive similarity probe, and it is
    # consumed three times below (remap collect, provisional node set,
    # final plan) — materialize it once or the probe re-executes per
    # consumer
    e = materialize_once(
        new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    remapped = (
        e.join(la.withColumnRenamed("__n", "u")
               .withColumnRenamed("__c", "__ca"), "u", "left")
        .join(la.withColumnRenamed("__n", "v")
              .withColumnRenamed("__c", "__cb"), "v", "left")
        .select(
            F.coalesce(F.col("__ca"), F.col("u")).alias("ca"),
            F.coalesce(F.col("__cb"), F.col("v")).alias("cb"),
        )
        .filter(F.col("ca") != F.col("cb"))
    )
    # batch-sized CC over component ids; relabel = (old component -> new).
    # The component graph is bounded by the BATCH (each edge touches at
    # most 2 components), i.e. metadata-sized in the incremental-ingest
    # regime — so solve it driver-side with union-find in one collect
    # (same class as the prefix-sum's O(partitions) collect) instead of
    # paying ~10 Spark jobs of star-contraction fixed cost.  Above the
    # driver threshold, fall back to the distributed contraction.
    # Driver memory stays bounded: rows stream in via toLocalIterator
    # (never a monolithic collect of Row objects) and are held as bare
    # 2-tuples; the iteration aborts the moment the threshold is crossed,
    # so the fallback path materializes at most driver_max_edges+1 tuples
    # — at the 200k default ~tens of MB, not hundreds.
    id_t = remapped.schema["ca"].dataType.simpleString()
    edge_rows: list | None = None
    if driver_max_edges > 0:
        edge_rows = []
        for row in remapped.limit(driver_max_edges + 1).toLocalIterator():
            edge_rows.append((row[0], row[1]))
            if len(edge_rows) > driver_max_edges:
                edge_rows = None
                break
    if edge_rows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in edge_rows:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                # union by MIN: roots stay the set minimum, so the final
                # root IS the merged component's label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        pairs = [(x, find(x)) for x in list(parent)]
        spark = labels.sparkSession
        relabel = spark.createDataFrame(
            [(a, b) for a, b in pairs if a != b] or [],
            f"node {id_t}, component {id_t}",
        )
    else:
        relabel = connected_components(remapped, "ca", "cb", max_iter, strict)
    # provisional (node, component) over the full node set: existing labels
    # plus every new-edge endpoint labeling itself
    prov = (
        labels.select(F.col(node_col).alias("node"),
                      F.col(comp_col).alias("component"))
        .unionByName(
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .distinct()
            .join(la, F.col("node") == F.col("__n"), "left_anti")
            .select("node", F.col("node").alias("component"))
        )
    )
    return (
        prov.join(
            F.broadcast(relabel.withColumnRenamed("node", "__old")
                        .withColumnRenamed("component", "__new")),
            prov["component"] == F.col("__old"), "left",
        )
        .select(
            "node",
            F.coalesce(F.col("__new"), F.col("component")).alias("component"),
        )
    )


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   pair_a: str = "id_a", pair_b: str = "id_b",
                   max_iter: int = 20, strict: bool = False) -> DataFrame:
    """Assign every document its near-dup cluster representative.

    Documents appearing in no pair are their own singleton cluster.  Returns
    (id, component, is_canonical); downstream dedup keeps
    ``is_canonical`` rows only.  ``max_iter``/``strict`` pass through to
    :func:`connected_components` (non-convergence warns or raises).
    """
    comp = connected_components(pairs, pair_a, pair_b, max_iter, strict)
    out = df.select(F.col(id_col)).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    )
    out = out.withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    return out.withColumn("is_canonical", F.col("component") == F.col(id_col))


def _orient_by_degree(canon: DataFrame) -> DataFrame:
    """Orient each undirected edge from its LOWER-degree endpoint to its
    higher-degree endpoint (ties by node id) — the compact-forward /
    degree-ordering trick: wedge enumeration fans out as
    ``sum(outdeg^2)``, and under degree orientation every node's
    out-degree is O(sqrt(m)), so a million-edge hub contributes ~zero
    wedges instead of ~10^12.  Input: canonical (a, b) edges; output:
    (u, v) with (deg(u), u) < (deg(v), v).
    """
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        canon.join(deg.withColumnRenamed("node", "a")
                   .withColumnRenamed("deg", "__da"), "a")
        .join(deg.withColumnRenamed("node", "b")
              .withColumnRenamed("deg", "__db"), "b")
    )
    fwd = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    return with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("__db")).otherwise(F.col("__da")).alias("__dv"),
    )


def triangle_count(edges: DataFrame, src: str = "id_a",
                   dst: str = "id_b") -> DataFrame:
    """Global triangle count — the graph-density / community-structure
    metric (near-dup graphs: triangle-rich components are true duplicate
    cliques; triangle-free stars are often template collisions).

    Input is an undirected edge list (each pair listed once, either
    order); violations are normalized and exact duplicates dropped.
    Enumeration is DEGREE-ORIENTED (``_orient_by_degree``): wedges pair a
    node's out-neighbors in (degree, id) order, and a closing semi-join on
    the oriented (v, w) edge confirms each triangle exactly once.  Both
    joins are hash equi-joins; no adjacency lists are materialized
    anywhere.  Degree orientation bounds the wedge fan-out of skewed hubs
    to O(sqrt(m)) out-degree — the plain canonical (a < b) orientation
    lets a low-id hub with n neighbors emit C(n, 2) wedges, which is the
    shape that dies on a template-collision star at 100 TB
    (guarded by tests/test_extensions.py's star fixture).

    Returns one row: (n_nodes, n_edges, n_triangles).
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e = materialize_once(canon)  # consumed several times below
    # the oriented table is consumed three times (both wedge sides + the
    # closing semi-join); without its own materialization the degree
    # aggregate and both degree-attach joins would re-execute per consumer
    o = materialize_once(_orient_by_degree(e))
    # wedges (u -> v, u -> w) with v before w in the (degree, id) order:
    # every triangle has exactly one lowest-order apex u, hence one wedge
    wedge = (
        o.select(F.col("u"), F.col("v"), F.col("__dv"))
        .alias("e1")
        .join(o.select(F.col("u"), F.col("v").alias("w"),
                       F.col("__dv").alias("__dw")).alias("e2"), "u")
        .filter(
            (F.col("__dv") < F.col("__dw"))
            | ((F.col("__dv") == F.col("__dw")) & (F.col("v") < F.col("w")))
        )
    )
    tri = wedge.join(
        o.select(F.col("u").alias("tv"), F.col("v").alias("tw")),
        (F.col("v") == F.col("tv")) & (F.col("w") == F.col("tw")),
        "left_semi",
    )
    nodes = e.select(F.col("a").alias("n")).union(
        e.select(F.col("b").alias("n"))
    ).distinct()
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def pagerank_fixed(edges: DataFrame, iters: int = 3,
                   src: str = "src", dst: str = "dst",
                   damping_pct: int = 85,
                   scale: int = 1_000_000,
                   broadcast_ranks: bool = False,
                   nodes: DataFrame | None = None,
                   annotated: DataFrame | None = None) -> DataFrame:
    """Deterministic fixed-point PageRank: ``iters`` synchronous power
    iterations with ALL arithmetic in integer rank units, so the result
    is a pure function of the graph — bit-identical across engines,
    shuffle orders, and reruns, and therefore SQL-oracle-checkable.
    Float PageRank cannot promise that: the per-node inbound SUM of
    double contributions depends on shuffle arrival order.

    - ranks start at ``scale`` units per node (the unnormalized form;
      divide by node count for the probability vector);
    - each out-edge of ``u`` carries ``(damping_pct * r_u) div
      (100 * outdeg_u)`` units — integer division, the fixed-point twin
      of ``d * r/deg`` (drift vs float PageRank is < outdeg ulps per
      node per iteration, i.e. < 1e-5 at the default scale);
    - ``r'_v = (100 - damping_pct) * scale / 100  +  sum(inbound)``;
      nodes without in-edges keep the bare teleport term.  Dangling-node
      mass is dropped (the standard simplification).

    Plan shape: the out-degree join is ONE exchange paid once (the
    degree-annotated edge list is materialized and reused by every
    iteration); each iteration is then one hash join (ranks x edges on
    the source) + one partial/final SUM on the destination — the
    Pregel-style shape whose cost is O(iters x |E|) exchanged rows, flat
    per iteration at any graph size.  Rank values stay in int64 while
    ``iters * scale * |V|`` is far below 2^63 (bound: total mass <=
    |V| * scale / (1 - d)).

    Returns ``(node, rank_fp)``: rank in integer units.
    """
    # the node set and the degree-annotated edge list are re-read by every
    # iteration (and the node set by every teleport re-join) — materialize
    # both once; without the fence each of the `iters` left joins replays
    # the full edge scan + distinct.  ``nodes`` (node) / ``annotated``
    # (__src, __dst, __outdeg) let callers substitute build-once persisted
    # tables — both are pure functions of the edge list.
    if nodes is None:
        nodes = materialize_once(
            edges.select(F.col(src).alias("node"))
            .unionByName(edges.select(F.col(dst).alias("node")))
            .distinct()
        )
    if annotated is None:
        deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__outdeg"))
        ann = materialize_once(
            edges.join(deg, src).select(
                F.col(src).alias("__src"), F.col(dst).alias("__dst"),
                "__outdeg"
            )
        )
    else:
        ann = annotated
    teleport = (100 - damping_pct) * scale // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank_fp"))
    for _ in range(iters):
        # with broadcast_ranks the rank vector rides map-side along the
        # stationary edge list — zero edge-list exchanges per iteration
        # (only the |V|-sized partial-sum shuffle remains).  Correct when
        # the node set is dimension-sized; the default hash join is the
        # any-scale Pregel shape.
        rside = F.broadcast(ranks) if broadcast_ranks else ranks
        contribs = (
            ann.join(rside, ann["__src"] == ranks["node"])
            .select(
                F.col("__dst").alias("node"),
                F.expr(f"({damping_pct} * rank_fp) div (100 * __outdeg)")
                .alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(teleport) + F.coalesce(F.col("__in"), F.lit(0)))
            .cast("long").alias("rank_fp"),
        )
    return ranks
