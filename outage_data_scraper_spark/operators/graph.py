"""Link-graph algorithms for crawl prioritization.

PageRank is THE frontier-priority signal a web-scale crawler feeds back
into its queue (the reference's scrapers have a fixed seed list and no
link analysis; our frontier's priority column is exactly where these
ranks plug in — frontier/priority.py sorts on it).

Cross-engine exactness: ranks are kept in integer MICRO-units. Each
round computes, per edge, round(damping · r_u / outdeg_u) as an
integer BEFORE the destination sum, so every intermediate state is an
integer both engines reproduce bit-for-bit — a float PageRank's
per-node sums depend on partition order and can drift an ulp per
round, compounding across iterations. The integer fixpoint is also
what makes the DuckDB oracle possible as a finite chained-CTE unroll.

Scale shape (10^10 edges): each round is the canonical join-groupBy
pair (edges ⋈ ranks on src → sum by dst). Ranks and degrees are
node-sized; edges dominate. The rank side shuffles on src once per
round and Catalyst reuses the edge partitioning across rounds;
localCheckpoint truncates the per-round lineage (the CLAUDE.md
iterative-loop invariant — Catalyst analysis time on nested iterative
plans otherwise grows faster than the data). Dangling mass is dropped,
not redistributed: ranks are consumed ORDINALLY for crawl
prioritization, and the uniform dangling term shifts all ranks
equally.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _half_up(x: float) -> int:
    """Round-half-up of a double — bit-matches Spark F.round(…, 0) and
    DuckDB round() on the same double (CLAUDE.md: Decimal(float)
    .quantize HALF_UP reproduces Spark F.round exactly)."""
    return int(Decimal(x).quantize(Decimal("1"), rounding=ROUND_HALF_UP))


def pagerank_micro(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    unit: int = 1_000_000,
) -> DataFrame:
    """PageRank over directed ``edges`` (src, dst) for every row of
    ``nodes`` (node), returned as (node, rank_micro: long).

    r⁰(v) = round(unit/N);
    rᵏ(v) = round((1−damping)·unit/N) + Σ_{u→v} round(damping·rᵏ⁻¹(u)/deg(u)).
    Isolated nodes settle at the base term. The (1−damping) factor is
    computed as the literal expression ``1 − damping`` so the oracle's
    SQL constant is the identical double."""
    n = nodes.count()
    if n == 0:  # cold start / empty host graph: empty ranks, not a crash
        return nodes.select("node", F.lit(0).cast("long").alias("rank_micro"))
    base = _half_up((1 - damping) * unit / n)
    r0 = _half_up(unit / n)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = nodes.select("node", F.lit(r0).cast("long").alias("r"))
    for _ in range(n_iter):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.lit(damping) * F.col("r") / F.col("deg"), 0)
                .cast("long")
                .alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))


def ccl_host_edges(frontier: DataFrame) -> DataFrame:
    """Host-graph (src, dst) edges from the linked synthetic web's
    frontier rows: a ccl child URL's /ln{d}/{src_rank}/ path segment IS
    the referrer host rank (fixtures.ccl_child_urls contract), so the
    edge list is a pure narrow projection of the frontier — no
    self-join to recover parents at 10^10-row scale. Duplicate edges
    (several pages on A linking B) are KEPT: pagerank_micro's per-src
    degree then weights A→B by link multiplicity for free."""
    src_rank = F.regexp_extract(
        "url", r"^https://h\d+\.synth-utility\.net/ln[12]/(\d+)/", 1
    )
    return (
        frontier.withColumn("_src", src_rank)
        .filter(F.col("_src") != "")
        .select(
            F.concat(F.lit("h"), F.col("_src"), F.lit(".synth-utility.net")).alias("src"),
            F.col("host").alias("dst"),
        )
    )


def reprioritize_frontier(
    frontier: DataFrame, host_ranks: DataFrame, unit: int = 1_000_000
) -> DataFrame:
    """Feed host-level PageRank back into the crawl frontier:
    rows of ranked hosts get priority = −rank_micro/unit, so
    higher-ranked hosts pop FIRST under the ascending crawl-ordering
    law (priority, event_seq, seed_seq, depth, child_seq) while the
    WITHIN-host order — the reference-parity law — is untouched (the
    law's remaining columns still break ties exactly as before).
    Unranked hosts keep their current priority. The crawler applies it
    to the pending set at pop time (Crawler.wave_plan); frontier rows
    carry no status, so every row of a ranked host is rewritten.

    ``host_ranks`` is pagerank_micro output with host strings as the
    node column. Ranks are node-sized (hosts, not URLs) → broadcast;
    the frontier side stays a narrow projection."""
    r = host_ranks.select(
        F.col("node").alias("host"),
        (-F.col("rank_micro") / F.lit(float(unit))).alias("_rank_p"),
    )
    return (
        frontier.join(F.broadcast(r), "host", "left")
        .withColumn("priority", F.coalesce(F.col("_rank_p"), F.col("priority")))
        .drop("_rank_p")
    )


def aggregate_anchor_text(
    links: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target anchor-text aggregation over a link graph: for every
    dst, the in-link count, distinct-source count, distinct-anchor
    count, and the most frequent anchor string (ties → lexically
    smallest) with its count. Anchor text is the classic off-page
    description signal — at web scale the (dst, aggregated anchors)
    table IS a retrieval/LLM training corpus (query↔doc pairs), and
    in-link counts feed the frontier priority beside PageRank.

    Scale shape: trillions of edges reduce through ONE map-side-combined
    (dst, anchor) count shuffle; everything after runs on the reduced
    relation — a dst regroup picking the top anchor via min(struct(-cnt,
    anchor)) (no window, no per-dst sort), plus a dst-keyed distinct-src
    count joined back on the same key. Home-page dst skew is bounded
    after the first agg by each dst's DISTINCT-anchor cardinality, not
    its raw in-degree.
    """
    ac = links.groupBy(
        F.col(dst_col).alias("__dst"), F.col(anchor_col).alias("__anchor")
    ).agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    per_dst = ac.groupBy("__dst").agg(
        F.sum("__cnt").cast("long").alias("n_inlinks"),
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        F.min(F.struct((-F.col("__cnt")).alias("neg"), F.col("__anchor")))
        .alias("__top"),
    )
    srcs = links.groupBy(F.col(dst_col).alias("__dst2")).agg(
        F.count_distinct(F.col(src_col)).cast("long").alias("n_src")
    )
    return (
        per_dst.join(srcs, per_dst["__dst"] == srcs["__dst2"])
        .select(
            F.col("__dst").alias(dst_col),
            "n_inlinks",
            "n_src",
            "n_anchors",
            F.col("__top.__anchor").alias("top_anchor"),
            (-F.col("__top.neg")).cast("long").alias("top_anchor_count"),
        )
    )


def hits_micro(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 3,
    unit: int = 1_000_000,
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over directed ``edges``
    (src, dst) for every row of ``nodes`` (node), returned as
    (node, hub_micro, auth_micro) — PageRank's companion crawl-priority
    signal: authorities are the pages worth fetching, hubs the pages
    worth re-parsing for links.

    Integer-exact so the oracle can unroll the fixpoint (the q58/q92
    law): h⁰ = unit; each round
      a_raw(v) = Σ_{u→v} h(u);  a(v) = (a_raw·unit) DIV max(a_raw)
    and symmetrically for h over the fresh a. Max-normalization (not
    L2) keeps every intermediate an integer; the top hub/authority sits
    at exactly ``unit``. The per-round max is a ONE-ROW aggregate
    crossJoined back (broadcast — never a node-scale window, never a
    driver collect); empty/edgeless graphs settle at 0.
    localCheckpoint per round (iterative-lineage law).

    Overflow contract: max weighted in-degree · unit² < 2^63 — at the
    default unit, in-degrees up to ~9·10^6 are safe; scale unit down
    for denser graphs.
    """
    h = nodes.select("node", F.lit(int(unit)).cast("long").alias("h"))
    a = None
    for _ in range(n_iter):
        a = _hits_half(edges, nodes, h, "h", "src", "dst", unit, "a")
        h = _hits_half(edges, nodes, a, "a", "dst", "src", unit, "h")
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .select(
            "node",
            F.col("h").alias("hub_micro"),
            F.col("a").alias("auth_micro"),
        )
    )


def _hits_half(
    edges: DataFrame,
    nodes: DataFrame,
    scores: DataFrame,
    score_col: str,
    from_col: str,
    to_col: str,
    unit: int,
    out_col: str,
) -> DataFrame:
    """One HITS half-step: sum ``scores`` over edges from ``from_col``
    onto ``to_col``, then max-normalize to ``unit`` in integer DIV."""
    raw = (
        nodes.join(
            edges.join(
                scores.withColumnRenamed("node", "__sn"),
                F.col(from_col) == F.col("__sn"),
            )
            .groupBy(F.col(to_col).alias("node"))
            .agg(F.sum(score_col).alias("__s")),
            "node",
            "left",
        )
        .select("node", F.coalesce(F.col("__s"), F.lit(0)).alias("__raw"))
        # materialize ONCE per half-step: the max aggregate and the
        # normalization projection share this subtree, and the next
        # half-step's lineage starts here instead of nesting the whole
        # history (iterative-loop law — without this, each round
        # re-executes every previous round's joins).
        .localCheckpoint(eager=True)
    )
    mx = raw.agg(F.max("__raw").alias("__mx"))
    return raw.crossJoin(F.broadcast(mx)).select(
        "node",
        F.when(F.col("__mx") <= 0, F.lit(0))
        .otherwise(F.expr(f"(__raw * {int(unit)}) DIV __mx"))
        .cast("long")
        .alias(out_col),
    )


def triangle_count(
    edges: DataFrame,
    nodes: DataFrame,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the local
    clustering signal (link-farm / spam-community density: organic
    neighborhoods close triangles, mint-style link farms are stars
    that close none).

    Input ``edges`` (a, b) is treated as undirected: self-loops drop,
    duplicates and reversed duplicates collapse. Returns one row per
    ``nodes`` row: (node, n_triangles).

    Scale shape — the standard orientation trick: each undirected edge
    is directed from the endpoint with (degree, id) LOWER to the higher
    one, so every triangle is counted exactly once from its lowest-
    degree corner and the wedge join fans out by OUT-degree, which
    orientation caps at O(√m) per node (Σ out² = O(m^1.5) worst case —
    a celebrity node of degree 10^6 contributes wedges only through its
    low-degree neighbors, never 10^12 pairs by itself). Two equi-joins
    (wedge build + closing-edge semi join), both on edge keys; no
    cartesian, no window. The triangle SET is orientation-independent,
    which is what lets the oracle use the simple a<b<c formulation.
    """
    und = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = (
        und.select(F.col("x").alias("n"))
        .unionAll(und.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    oriented = (
        und.join(dx, "x")
        .join(dy, "y")
        .select(
            F.when(
                (F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                F.struct(F.col("x").alias("s"), F.col("y").alias("t")),
            )
            .otherwise(F.struct(F.col("y").alias("s"), F.col("x").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        # pin the oriented edge list behind one exchange: the wedge
        # build (twice) and the closing-edge probe all derive from it,
        # and without the explicit repartition each consumer re-derives
        # the degree joins from the scans (r8; shuffle-stage reuse
        # computes it once)
        .repartition("s", "t")
    )
    e1 = oriented.select(F.col("s").alias("u"), F.col("t").alias("v"))
    e2 = oriented.select(F.col("s").alias("v"), F.col("t").alias("w"))
    wedges = e1.join(e2, "v").filter(F.col("u") != F.col("w"))
    # closing edge may be oriented either way between u and w
    closing = oriented.select(
        F.least("s", "t").alias("__cx"), F.greatest("s", "t").alias("__cy")
    )
    tris = wedges.join(
        closing,
        (F.least("u", "w") == F.col("__cx"))
        & (F.greatest("u", "w") == F.col("__cy")),
        "leftsemi",
    )
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("__nt"))
    )
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("__nt"), F.lit(0)).cast("long").alias("n_triangles"),
    )


def hop_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 32,
    src: str = "src",
    dst: str = "dst",
    require_convergence: bool = True,
) -> DataFrame:
    """Multi-source BFS over the link graph: minimum hop count from the
    seed set to every reachable node — the LINK-graph crawl depth (vs
    the frontier's discovery ``depth``, which depends on wave timing):
    the classic "crawl within k clicks of the seeds" scoping signal,
    and the denominator quality heuristic (pages far from any seed are
    disproportionately spam/trap space).

    Level-synchronous delta-frontier BFS (the Pregel shape): per round,
    only the nodes DISCOVERED LAST ROUND join the edge list (one hash
    join), and candidates already labeled are dropped with one
    node-keyed anti-join. Each node enters the frontier at most once,
    so total join work across ALL rounds is O(edges incident to
    reachable nodes) — not O(rounds · edges); dist is node-sized and
    append-only. localCheckpoint per round (the iterative-lineage law);
    the per-round empty-check is a driver scalar. BFS's fixpoint is
    canonical (no tie rule needed — a node's level is unique), which is
    what makes the result value-gatable cross-engine.

    ``seeds`` must carry a ``node`` column. Returns (node, dist) for
    reachable nodes only; unreached nodes are absent (callers left-join
    and coalesce). Raises if the frontier is still non-empty after
    ``max_rounds`` and ``require_convergence`` (a hop-capped partial
    BFS is a legitimate crawl scope — but then the cap is part of the
    operator's contract, so it must be explicit)."""
    e = edges.select(
        F.col(src).cast("long").alias("__s"), F.col(dst).cast("long").alias("__t")
    )
    dist = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for r in range(1, max_rounds + 1):
        cand = (
            frontier.join(e, frontier["node"] == e["__s"])
            .select(F.col("__t").alias("node"))
            .distinct()
        )
        new = (
            cand.join(dist, "node", "left_anti")
            .select("node", F.lit(r).cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            return dist
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        frontier = new.select("node")
    # one more expansion to see whether the cap truncated the BFS
    leftover = (
        frontier.join(e, frontier["node"] == e["__s"])
        .select(F.col("__t").alias("node"))
        .join(dist, "node", "left_anti")
    )
    if require_convergence and not leftover.isEmpty():
        raise ValueError(
            f"hop_distance: frontier still expanding after {max_rounds} "
            "rounds; raise max_rounds or pass require_convergence=False"
        )
    return dist
