"""Graph propagation operators (§2 extension beyond connected components).

The near-dup clustering path (operators/dedup.py::connected_components)
already iterates min-label propagation; this module adds the other classic
bulk-synchronous graph kernel a data-curation stack needs: **PageRank-style
score propagation** over an entity graph (domain authority for crawl
prioritization, supplier/part centrality, citation weighting for corpus
reweighting — the "quality via link structure" signal family).

Scale shape (one iteration): out-degrees are ONE hash agg over edges; the
contribution pass is ONE equi-join (edge src → rank) + ONE hash agg on dst.
Everything is linear in |E| with map-side partial aggregation; the rank
vector is O(|V|) and joins by key (AQE-decided strategy — the vertex table
grows with data, so no forced broadcast, per the repo's sf-scaled-relation
rule). Hub vertices (Zipf in-degree) are absorbed by partial aggs; hot
SOURCE vertices in the join are AQE-skew-split. A full power iteration loops
this step with lineage cuts (same localCheckpoint discipline as
connected_components); convergence typically needs O(10) rounds independent
of |V|, so the 100 TB cost is ~10 linear passes.

Edge lists are ``(src, dst)``; :func:`transitive_closure` reads
``(child, parent)``. Kernels whose edge list feeds several branches
localCheckpoint it once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# PageRank damping factor
DAMPING = 0.85


def pagerank_iteration(edges: DataFrame) -> DataFrame:
    """One PageRank power-iteration step (damping DAMPING) from the uniform
    1/N start vector over an edge list.

    Vertices are the union of src/dst endpoints. Dangling vertices (no
    out-edges) redistribute their mass uniformly — the standard stochastic
    fix, computed as one scalar aggregate. Returns (vertex, rank) with
    ranks UNROUNDED (callers round at the query edge per repo float rules).

    Determinism note: the per-vertex sum of contributions is a grouped
    double sum, so cross-engine parity requires the caller to round (the
    repo convention, 6dp in the shipped query) — same rule as every grouped
    float agg in this codebase.
    """
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    verts = (
        e.select(F.col("_s").alias("vertex"))
        .unionByName(e.select(F.col("_d").alias("vertex")))
        .distinct()
    )
    n = verts.agg(F.count(F.lit(1)).alias("_n"))
    ranks = verts.crossJoin(F.broadcast(n)).select(
        "vertex", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    # Mass leaving each vertex: rank/outdeg per out-edge. Vertices with no
    # out-edges keep their rank out of this join — their (dangling) mass is
    # summed separately below.
    src_rank = ranks.join(outdeg, ranks["vertex"] == outdeg["_s"], "left")
    dangling = src_rank.filter(F.col("_deg").isNull()).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass")
    )
    contrib = (
        e.join(
            src_rank.filter(F.col("_deg").isNotNull()).select(
                F.col("vertex").alias("_sv"),
                (F.col("rank") / F.col("_deg")).alias("_share"),
            ),
            F.col("_s") == F.col("_sv"),
        )
        .groupBy(F.col("_d").alias("vertex"))
        .agg(F.sum("_share").alias("_in"))
    )
    return (
        verts.join(contrib, "vertex", "left")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(dangling))
        .select(
            "vertex",
            (
                (1.0 - DAMPING) / F.col("_n")
                + F.lit(DAMPING)
                * (F.coalesce(F.col("_in"), F.lit(0.0)) + F.col("_dmass") / F.col("_n"))
            ).alias("rank"),
        )
    )


def _degree_oriented_wedges(e: DataFrame):
    """Shared degree-ordered-orientation prelude for the triangle kernels.

    ``e`` is a unique undirected edge list (_u, _v). Returns
    (deg, wedges, closing): symmetrized degrees (_u, _d), the oriented
    wedge stream (_s, _t1, _t2) with _t1 < _t2, and the symmetrized
    closure probe set (_c1, _c2). Both triangle kernels consume these; a
    wedge whose (_t1, _t2) matches a closure row closes exactly one
    triangle (the closing edge's two direction-rows are distinct pairs, so
    at most one equals the ordered (_t1, _t2)).
    """
    sym = e.unionByName(e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v")))
    deg = sym.groupBy("_u").agg(F.count(F.lit(1)).alias("_d"))
    # orient by (degree, id): attach degrees to both endpoints once
    du = deg.select(F.col("_u").alias("_a"), F.col("_d").alias("_da"))
    dv = deg.select(F.col("_u").alias("_b"), F.col("_d").alias("_db"))
    with_deg = (
        e.join(du, e["_u"] == du["_a"]).join(dv, e["_v"] == dv["_b"]).select(
            "_u", "_v", "_da", "_db"
        )
    )
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_u") < F.col("_v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("_u")).otherwise(F.col("_v")).alias("_s"),
        F.when(lower_first, F.col("_v")).otherwise(F.col("_u")).alias("_t"),
    )
    w1 = oriented.select(F.col("_s"), F.col("_t").alias("_t1"))
    w2 = oriented.select(F.col("_s"), F.col("_t").alias("_t2"))
    wedges = w1.join(w2, "_s").filter(F.col("_t1") < F.col("_t2"))
    closing = oriented.select(
        F.col("_s").alias("_c1"), F.col("_t").alias("_c2")
    ).unionByName(
        # the closing edge's orientation between _t1 and _t2 is unknown —
        # probe both directions via the symmetrized closure set
        oriented.select(F.col("_t").alias("_c1"), F.col("_s").alias("_c2"))
    )
    return deg, wedges, closing


def _checkpointed_edges(edges: DataFrame) -> DataFrame:
    """(_u, _v) of a (src, dst) edge list, localCheckpointed: the kernels
    below read it from many branches (symmetrization, degrees, both wedge
    sides, the closure or anti-join set), and an expensive upstream edge
    BUILD (e.g. the per-order co-occurrence self-join) must run once, not
    per branch (measured 4.2 s → ~1 s on the sf0.1 co-purchase graph; the
    cluster equivalent is persisting the edge table, same discipline as
    connected_components/pagerank)."""
    return edges.select(
        F.col("src").alias("_u"), F.col("dst").alias("_v")
    ).localCheckpoint(eager=True)


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation + degree over an undirected simple
    graph (edge list with each edge in ONE direction, no self-loops).

    Same degree-ordered orientation as :func:`triangle_count` (hub-safe:
    oriented out-degree is O(√m)), but the closure check is an INNER join
    instead of a semi-join so each closed wedge surfaces once with all
    three vertices (_s, _t1, _t2), which then explode 3-ways into a hash
    agg — still three linear passes plus one bounded 3× fan-out. The
    (vertex, n_triangles, degree) output is the local-clustering-
    coefficient input: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)).

    Returns (vertex, degree, n_triangles) for every vertex, n_triangles=0
    where the vertex closes nothing. Degree = distinct-neighbor count
    (edges are unique), exactly the cc denominator's n.
    """
    e = _checkpointed_edges(edges)
    deg, wedges, closing = _degree_oriented_wedges(e)
    tri = wedges.join(
        closing,
        (F.col("_t1") == F.col("_c1")) & (F.col("_t2") == F.col("_c2")),
    )
    tv = (
        tri.select(
            F.explode(F.array(F.col("_s"), F.col("_t1"), F.col("_t2"))).alias("vertex")
        )
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("_u").alias("vertex"), F.col("_d").alias("degree"))
        .join(tv, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected simple graph (edge list
    with each edge in ONE direction, no self-loops).

    Degree-ordered orientation (the standard distributed algorithm —
    Suri & Vassilvitskii WWW'11 / Cohen's MapReduce form): orient every
    edge from its (degree, id)-smaller endpoint to the larger, so each
    triangle is counted EXACTLY once and the wedge-join fans out only on
    oriented out-degree, which is O(√m) per vertex for any graph — the
    hub that breaks the naive wedge count (a Zipf vertex with degree d
    contributes d² wedges) is capped because high-degree vertices receive
    almost all their edges INBOUND under the orientation.

    Three linear passes: one degree agg, one wedge self-join on the
    oriented source, one existence semi-join of wedge closures against the
    oriented edge set. Returns a single row (n_vertices, n_edges,
    n_triangles).
    """
    e = _checkpointed_edges(edges)
    deg, wedges, closing = _degree_oriented_wedges(e)
    tri = wedges.join(
        closing,
        (F.col("_t1") == F.col("_c1")) & (F.col("_t2") == F.col("_c2")),
        "left_semi",
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_v = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_v.crossJoin(F.broadcast(n_e)).crossJoin(F.broadcast(n_tri))


def _linkpred_wedges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sym, wedges) for the link-prediction scores: the symmetrized edge
    list (_u, _v) and every wedge v1—_n—v2 as (_n, v1, v2) with v1 < v2 —
    one self-join of the adjacency on the shared neighbor."""
    e = _checkpointed_edges(edges)
    sym = e.unionByName(e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v")))
    a1 = sym.select(F.col("_u").alias("_n"), F.col("_v").alias("v1"))
    a2 = sym.select(F.col("_u").alias("_n"), F.col("_v").alias("v2"))
    return sym, a1.join(a2, "_n").filter(F.col("v1") < F.col("v2"))


def _non_adjacent_topk(cand: DataFrame, sym: DataFrame, score: str, k: int) -> DataFrame:
    """Top-k candidate pairs by ``score`` desc, then (v1, v2), that are not
    edges. The anti-join probes the SYMMETRIZED set: probing only the
    (v1==src, v2==dst) direction trusted the src<dst precondition — one
    reversed edge would leak an already-adjacent pair into the
    "non-adjacent" predictions (r7 review; triangle_count normalizes, this
    matches)."""
    non_adj = cand.join(
        sym,
        (cand["v1"] == sym["_u"]) & (cand["v2"] == sym["_v"]),
        "left_anti",
    )
    return non_adj.orderBy(F.col(score).desc(), "v1", "v2").limit(k)


def common_neighbors_topk(edges: DataFrame, k: int = 15) -> DataFrame:
    """Top-k NON-adjacent vertex pairs by common-neighbor count — the
    classic link-prediction score (Liben-Nowell & Kleinberg CIKM'03) over
    an undirected simple edge list (each edge once, src < dst).

    Shape: symmetrize → one self-join of the adjacency on the shared
    neighbor (every wedge n—a, n—b emits the candidate pair (a, b)) → hash
    count per pair → left-anti against the edge set (predict only pairs
    NOT already linked) → TakeOrdered top-k with (count desc, pair) order.

    Scale: wedge volume is Σ_n deg(n)² — the hub problem. Unlike triangle
    counting, exact common-neighbor scores genuinely need every wedge, so
    the scale levers are upstream: the support threshold that denoises the
    edge build already caps degrees in practice, and production systems
    cap deg(n) (drop wedges through the top-0.1% hubs — a standard
    recall trade) or swap in minhash-of-neighborhood sketches. The exact
    form ships because the gate replays it; the cap is one added filter
    on the degree agg.
    """
    sym, wedges = _linkpred_wedges(edges)
    cand = wedges.groupBy("v1", "v2").agg(F.count(F.lit(1)).alias("n_common"))
    return _non_adjacent_topk(cand, sym, "n_common", k)


def resource_allocation_topk(edges: DataFrame, k: int = 15) -> DataFrame:
    """Top-k NON-adjacent vertex pairs by the Resource-Allocation index
    RA(a, b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) (Zhou/Lü/Zhang EPJ B 2009) —
    the degree-penalized refinement of plain common-neighbor counting:
    a wedge through a low-degree (specific) vertex is stronger evidence
    than one through a hub.

    Exactness: each wedge contributes the EXACT scaled integer
    ``1e6 div deg(z)`` and the pair score is the BIGINT sum of those
    contributions, so the ranking replays bit-identically in DuckDB
    (sum-of-floors, never floor-of-sum — deterministic by construction,
    no ln()/float anywhere; contrast Adamic–Adar's 1/ln(deg), which is
    why RA ships and AA does not). Ties in ra_e6 break on (v1, v2).

    Shape and scale: identical wedge enumeration to
    :func:`common_neighbors_topk` (symmetrize → self-join on the shared
    neighbor → hash agg per pair → anti-join vs the symmetrized edge set
    → TakeOrdered top-k); the only addition is one broadcast-sized degree
    agg joined onto the wedge center BEFORE the pair agg. Wedge volume is
    Σ_z deg(z)² with the same upstream support-threshold/hub-cap levers.
    """
    sym, wedges = _linkpred_wedges(edges)
    deg = sym.groupBy(F.col("_u").alias("_n")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    cand = (
        wedges.join(deg, "_n")
        .groupBy("v1", "v2")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr("1000000 div _deg")).cast("long").alias("ra_e6"),
        )
    )
    return _non_adjacent_topk(cand, sym, "ra_e6", k)


def transitive_closure(edges: DataFrame, rounds: int | None = 3) -> DataFrame:
    """Ancestor closure over a parent forest via PATH DOUBLING: returns every
    ``(node, anc, depth)`` pair reachable by following parent edges.

    This is the recursive-CTE workload (BOM explosion, org charts, category
    trees, thread reply chains) expressed Spark-first. A naive frontier
    recursion needs one join per LEVEL; doubling self-joins the closure with
    itself each round, so after r rounds every path of length ≤ 2^r is
    present — a 100 TB hierarchy of depth 1000 resolves in 10 joins, not
    1000. Each round: one equi-join (closure.anc = closure.node) + one hash
    agg keeping min depth per (node, anc) (doubling re-derives a path from
    several split points; in a forest the min IS the unique depth). The
    closure feeds BOTH sides of the next join, so it is localCheckpoint'ed
    per round (the repo's many-branch lineage rule).

    ``rounds`` bounds the covered depth at 2^rounds; callers own picking it
    when the oracle must unroll the identical passes. ``rounds=None`` is
    the production mode: loop until a round adds no (node, anc) pairs —
    the same convergence check as operators/dedup.py::connected_components
    (one count() per round; log₂(max depth)+1 rounds total, so the extra
    convergence round is a bounded cost).
    """
    closure = edges.select(
        F.col("child").alias("node"),
        F.col("parent").alias("anc"),
        F.lit(1).cast("long").alias("depth"),
    ).localCheckpoint(eager=True)
    if rounds is None:
        prev = closure.count()
        while True:
            closure = _double_closure(closure)
            n = closure.count()
            if n == prev:
                return closure
            prev = n
    for _ in range(rounds):
        closure = _double_closure(closure)
    return closure


def _double_closure(closure: DataFrame) -> DataFrame:
    """One doubling round: closure ⋈ closure + min-depth dedup, checkpointed
    (the result feeds both sides of the next join)."""
    a, b = closure.alias("a"), closure.alias("b")
    doubled = a.join(b, F.col("a.anc") == F.col("b.node")).select(
        F.col("a.node").alias("node"),
        F.col("b.anc").alias("anc"),
        (F.col("a.depth") + F.col("b.depth")).alias("depth"),
    )
    return (
        closure.unionByName(doubled)
        .groupBy("node", "anc")
        .agg(F.min("depth").alias("depth"))
        .localCheckpoint(eager=True)
    )


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """k-core peeling: iteratively drop vertices of degree < k, returning
    the surviving ``(node, deg)`` rows after ``rounds`` degree passes (the
    round-(rounds) survivors and their degrees within the round-(rounds-1)
    surviving subgraph).

    The community-detection / spam-subgraph denoise kernel (a vertex in
    the k-core has ≥ k neighbors that themselves survive peeling —
    stronger than a raw degree cut, which round 1 equals). Each round is
    one hash agg (degrees, map-side combined) + two semi-joins filtering
    the symmetrized edge list; the edge list feeds the next round's agg
    AND both semi-joins, so it is localCheckpoint'ed per round. Exact
    convergence loops until no vertex drops (the connected_components
    discipline); a fixed ``rounds`` ships because the DuckDB oracle
    unrolls the same number of passes — both engines compute the
    identical partial peel.
    """
    sym = edges.select(F.col("src").alias("_u"), F.col("dst").alias("_v"))
    sym = sym.unionByName(
        sym.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    ).localCheckpoint(eager=True)
    for _ in range(rounds - 1):
        keep = (
            sym.groupBy("_u")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("_u")
        )
        sym = (
            sym.join(keep, "_u", "left_semi")
            .join(keep.withColumnRenamed("_u", "_v"), "_v", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        sym.groupBy("_u")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .filter(F.col("deg") >= k)
        .select(F.col("_u").alias("node"), "deg")
    )
