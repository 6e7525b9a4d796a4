"""Host-keyed priority frontier pop (SURVEY.md O2, §4.3).

The reference crawls sequentially in seed order (app/main.py:21). The
engine generalizes that to a distributed priority queue: per wave, take at
most ``per_host_k`` URLs from each host, ordered by the crawl-ordering law

    (priority, event_seq, seed_seq, depth, child_seq)

which degenerates to the reference's exact sequential order when every
seed has equal priority (the parity test is
tests/test_crawl_e2e.py::test_crawl_ordering_law_reproduces_reference).

Physical shape: one shuffle (hash partition by host for the window), then
a salted repartition for the fetch stage so hot hosts (28/285 seed URLs on
one host in the reference's seed set) don't straggle. AQE handles residual
skew; the window itself is per-host so no global sort happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import urlkit

ORDER_COLS = ["priority", "event_seq", "seed_seq", "depth", "child_seq"]


def pop_wave(
    frontier: DataFrame,
    per_host_k: int = 1,
    num_parts: int = 32,
    salt: int = 4,
    lane_cap: int = 500,
    wave_budget: int | None = None,
    domain_budget: int | None = None,
) -> DataFrame:
    """Select this wave's fetch batch from ``frontier``, the pending
    rows (Crawler.pending): top-k URLs per host, then (optionally) the
    global top ``wave_budget`` rows by the crawl-ordering law.

    ``wave_budget`` is the budgeted-crawl mode: with per-host quotas
    alone every pending host gets fetched each wave, so priority only
    orders fetches — with a global budget, priority DECIDES which
    hosts make the wave, which is what lets PageRank/host-rank
    feedback (operators/graph.reprioritize_frontier) steer a crawl
    that cannot afford the whole frontier per wave. The cut uses the
    full ordering law plus url as a final all-column tiebreak, so the
    budget boundary is deterministic. Physically: the cut is the
    two-phase histogram form (_budget_cut) — a plain
    ``orderBy().limit(N)`` at large N degenerates to ONE reducer
    merge-sorting nearly the whole pending set (each map task passes
    ≤ N rows, the single final task merges them all) and leaves a
    single partition for downstream — the exact single-task funnel the
    10^10 posture forbids. The default un-budgeted path keeps the
    two-shuffle wave law exactly as before.

    ``domain_budget`` is the FAIRNESS mode: the budget apportions
    across registered domains (eTLD+1 — the key crawl budgets belong
    to, functions/urlkit.registered_domain) proportional to each
    domain's pending pool via Hamilton largest-remainder quotas
    (operators/sampling.allocate_quotas), then each domain pops its
    top-quota rows by the ordering law. A single mega-registrant can
    never eat the wave, and every pending domain with a large-enough
    share is guaranteed its floor. Wave size is exactly the budget
    when the budget ≤ pending, except that a domain handed
    floor(share)+1 with only floor(share) rows forfeits that single
    unit (≤ 1 per domain, only when budget > domain pool). Composes
    with ``wave_budget`` (domain quotas first, global cut after).

    Returns the popped rows with a ``salted_part`` fetch-partition column
    (computed here: frontier rows store none),
    the host's ``n_lanes`` lane count, which the fetch stage's pacer
    divides the host's rate by, and ``host_popped``, the host's popped
    row count this wave (below ``per_host_k`` for every host, and the
    budgets not binding, means the pop took every pending row —
    Crawler's stop rule). Popping marks nothing: a URL is done once
    the wave appends its fetch_log row, and the next wave's ``pending()``
    anti-joins it away (Crawler.pending).

    The per-host ``rn <= per_host_k`` cut is combined map-side: Spark
    plans a ``WindowGroupLimit`` whose Partial half keeps each task's
    top k per host below the host exchange (tests/test_plans.py pins
    it). Above ``spark.sql.optimizer.windowGroupLimitThreshold``
    (default 1000) no ``WindowGroupLimit`` is planned, so one host's
    whole pending pool crosses the shuffle and sorts in one task.
    """
    w = Window.partitionBy("host").orderBy(*[F.col(c).asc() for c in ORDER_COLS])
    wc = Window.partitionBy("host")
    popped = frontier.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= per_host_k
    )
    if domain_budget is not None:
        popped = _domain_cut(popped, int(domain_budget))
    if wave_budget is not None:
        popped = _budget_cut(popped, int(wave_budget))
    popped = (
        popped
        # popped-per-host count shares the window's hash partitioning —
        # no extra shuffle (un-budgeted path); it sizes the adaptive
        # fetch lanes below
        .withColumn("host_popped", F.count(F.lit(1)).over(wc))
    )
    # single projection for both derived columns (withColumns, not two
    # chained withColumn Projects): every Project node costs analyzer +
    # optimizer time PER WAVE on the driver — fixed wall that does not
    # shrink with cluster size, i.e. pure scaling-efficiency loss
    lanes = urlkit.adaptive_lanes(F.col("host_popped"), num_parts, salt, lane_cap)
    return popped.withColumns(
        {
            "n_lanes": lanes,
            "salted_part": urlkit.salted_part(
                F.col("host"), num_parts, F.col("rn"), lanes
            ),
        }
    ).drop("rn")


def _domain_cut(popped: DataFrame, budget: int, n_buckets: int = 1024) -> DataFrame:
    """Per-registered-domain proportional wave cut: Hamilton quotas
    over each domain's pending pool, then each domain keeps its
    top-quota rows by the full ordering law (+url tiebreak).

    Scale shape — the GROUPED histogram cut (_budget_cut's law, one
    boundary PER DOMAIN, no driver-side per-domain state): the pool is
    localCheckpointed once; quotas are a DOMAIN-cardinality broadcast;
    a (domain, bucket) histogram + a bucket-count-bounded (≤ n_buckets
    rows per domain) cumulative window find each domain's boundary
    bucket; whole buckets below it keep UNSORTED, and only the boundary
    bucket — ≈ pool_dom/n_buckets rows — ranks by the full law. A naive
    per-domain row_number instead sorts a mega-registrant's entire pool
    in ONE task (measured: the 4M soak's 1.2M-row partition dominated
    the 78 s wall). Degenerate pools (every law column constant) fall
    back to the plain per-domain rank — that regime has no cut column,
    and the fallback is exactly the semantic definition."""
    from ..functions.urlkit import registered_domain
    from ..operators.sampling import allocate_quotas

    pool = popped.withColumn(
        "__dom", registered_domain(F.col("host"))
    ).localCheckpoint(eager=True)
    quotas = allocate_quotas(pool, "__dom", budget).select(
        "__dom", F.col("quota").alias("__quota")
    )
    full_order = [F.col(c).asc() for c in ORDER_COLS] + [F.col("url").asc()]
    # global stats: the law columns before the first one that varies
    # anywhere are constant over the whole pool, hence within every
    # domain, so its bucket is monotone in each domain's law too
    n, bucket = _law_buckets(pool, "_domain_cut", n_buckets)
    wd = Window.partitionBy("__dom").orderBy(*full_order)
    if bucket is None or n == 0:
        # every law column constant: rows tie up to url — rank directly
        return (
            pool.withColumn("__drn", F.row_number().over(wd))
            .join(F.broadcast(quotas), "__dom")
            .filter(F.col("__drn") <= F.col("__quota"))
            .drop("__dom", "__drn", "__quota")
        )
    # per-domain boundary: the first bucket whose cumulative count
    # reaches the quota (window input ≤ n_buckets rows per domain); a
    # domain whose whole pool is under quota has no boundary row and
    # keeps everything
    wb = Window.partitionBy("__dom").orderBy("__b")
    hist = (
        pool.select("__dom", bucket.alias("__b"))
        .groupBy("__dom", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .join(F.broadcast(quotas), "__dom")
        .withColumn("__cum", F.sum("__c").over(wb))
    )
    bdry = (
        hist.filter(F.col("__cum") >= F.col("__quota"))
        .groupBy("__dom")
        .agg(
            F.min_by(F.struct("__b", "__c", "__cum", "__quota"), "__b").alias(
                "__s"
            )
        )
        .select(
            "__dom",
            F.col("__s.__b").alias("__bdry"),
            (F.col("__s.__quota") - (F.col("__s.__cum") - F.col("__s.__c")))
            .alias("__slots"),
        )
    )
    tagged = pool.withColumn("__b", bucket).join(F.broadcast(bdry), "__dom", "left")
    keep = tagged.filter(
        F.col("__bdry").isNull() | (F.col("__b") < F.col("__bdry"))
    )
    edge = (
        tagged.filter(F.col("__b") == F.col("__bdry"))
        .withColumn("__drn", F.row_number().over(wd))
        .filter(F.col("__drn") <= F.col("__slots"))
        .drop("__drn")
    )
    return keep.unionByName(edge).drop("__dom", "__b", "__bdry", "__slots")


def _law_buckets(pool: DataFrame, cut: str, n_buckets: int):
    """The stats pass both histogram cuts share: one aggregate of count
    plus (min, max, non-null count) per law column. Returns ``(n,
    bucket)``, where ``bucket`` is an int bucket Column over the FIRST
    law column with span > 0 — the columns before it are constant over
    the pool, so lexicographic order degenerates to (chosen, rest) and
    bucketing it is monotone in the law — or None when every law column
    is constant (or the pool is empty).

    The histogram cut is provably equal to the sorted law ONLY for
    non-null order columns: a NULL bucket evaluates NULL and would be
    silently excluded by both phase filters, while the sorted-limit law
    places NULLs FIRST. All frontier law columns are non-null by
    construction — enforce it so a future nullable column fails loud."""
    stats_cols = [F.count(F.lit(1)).alias("n")]
    for c in ORDER_COLS:
        stats_cols += [
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
            F.count(c).alias(f"nn_{c}"),  # non-null count
        ]
    st = pool.agg(*stats_cols).collect()[0]
    n = int(st["n"])
    null_cols = [c for c in ORDER_COLS if int(st[f"nn_{c}"]) != n]
    if null_cols:
        raise ValueError(
            f"{cut}: NULLs in order column(s) {null_cols}; the "
            "histogram cut requires non-null law columns"
        )
    for c in ORDER_COLS:
        if st[f"mn_{c}"] is not None and st[f"mx_{c}"] > st[f"mn_{c}"]:
            mn, mx = float(st[f"mn_{c}"]), float(st[f"mx_{c}"])
            width = (mx - mn) / n_buckets or 1.0
            return n, F.least(
                F.floor((F.col(c) - F.lit(mn)) / F.lit(width)).cast("int"),
                F.lit(n_buckets - 1),
            )
    return n, None


def _budget_cut(popped: DataFrame, budget: int, n_buckets: int = 1024) -> DataFrame:
    """EXACT global top-``budget`` rows by the crawl-ordering law (+url
    tiebreak) without a single-reducer full sort — the two-phase
    histogram pattern (operators/quantiles.py):

    1. one stats pass (_law_buckets) buckets the FIRST law column that
       varies over this wave's pool — monotone in the law.
    2. histogram on that column (≤ n_buckets rows per task, map-side
       combined); the driver prefix-sums it and finds the boundary
       bucket: buckets strictly before it are kept WHOLE (no sort at
       all), and only the boundary bucket — ≈ pool/n_buckets rows —
       is sorted for the remaining slots.

    The pool is localCheckpointed first so the per-host window +
    anti-join chain is computed once, not once per pass."""
    pool = popped.localCheckpoint(eager=True)
    n, bucket = _law_buckets(pool, "_budget_cut", n_buckets)
    if n <= budget:
        return pool
    full_order = [F.col(c).asc() for c in ORDER_COLS] + [F.col("url").asc()]
    if bucket is None:
        # every law column constant: all rows tie up to url — the sort
        # is unavoidable but the pool is exactly this degenerate case
        return pool.orderBy(*full_order).limit(budget)
    hist = {
        int(r["b"]): int(r["c"])
        for r in pool.select(bucket.alias("b")).groupBy("b").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
    }
    cum = 0
    boundary = max(hist)
    for b in sorted(hist):
        if cum + hist[b] >= budget:
            boundary = b
            break
        cum += hist[b]
    keep = pool.filter(bucket < boundary)
    edge = (
        pool.filter(bucket == boundary)
        .orderBy(*full_order)
        .limit(budget - cum)
    )
    return keep.unionByName(edge)


def _registry_map_expr():
    """The (state, layout) → family registry as a FOLDABLE map literal:
    Catalyst constant-folds it once at plan time and every row does a
    single map probe. The earlier form (per-wave ``createDataFrame`` +
    broadcast join) cost ~120 ms of driver round-trip plus join planning
    EVERY wave — fixed driver wall, the exact thing the 2→8 scaling
    bench punishes. Semantically identical to the left join: a literal
    ships with the plan to every executor, and ``try_element_at``
    returns NULL for unmapped (state, layout) — the left join's null
    family — without tripping ANSI's strict element_at."""
    return F.expr(_REGISTRY_MAP_SQL)


def _build_registry_map_sql() -> str:
    # one SQL string built at import → ONE py4j round trip per wave
    # (120 F.lit() Column constructions cost ~100 ms of py4j chatter
    # per call — more than the createDataFrame they replaced)
    from ..parsers.registry import FAMILY_BY_STATE_LAYOUT

    parts = [
        f"'{s}:{l}', '{fam}'"  # no state/layout/family contains ':' or quotes
        for (s, l), fam in FAMILY_BY_STATE_LAYOUT.items()
    ]
    return "map(" + ", ".join(parts) + ")"


_REGISTRY_MAP_SQL = _build_registry_map_sql()


def expand_endpoints(frontier: DataFrame) -> DataFrame:
    """Seed fan-out (O29): families whose one seed fetches several
    endpoints (ga1, tx1, tx4, ga11, il7 — e.g. ga_scraper.py:256–266,
    tx_scraper.py:103–114) explode into per-endpoint URLs in the
    reference's fetch order, encoded as child_seq so the ordering law
    holds. Data-driven from sources.fixtures.FAMILY_ENDPOINTS."""
    from ..sources.fixtures import FAMILY_ENDPOINTS

    # family → suffix-array as one foldable map literal built as a single
    # SQL string (same reasoning as _registry_map_expr: a 10-branch
    # when-chain re-analyzes per wave; a constant-folded map is one node,
    # and one F.expr is one py4j round trip). NULL/unlisted family → [""]
    # — identical to the old when-chain's otherwise branch.
    parts = [
        f"'{fam}', array({', '.join(repr(e) for e in eps)})"
        for fam, eps in FAMILY_ENDPOINTS.items()
    ]
    suffixes = F.expr(
        "coalesce(try_element_at(map(" + ", ".join(parts) + "), family), array(''))"
    )
    exploded = frontier.select(
        "*", F.posexplode(suffixes).alias("__pos", "__suffix")
    )
    # one closing Project instead of withColumn+withColumn+drop (three):
    # per-wave analyzer/optimizer time is fixed driver wall — scaling loss
    out_cols = [
        F.concat(F.col("url"), F.col("__suffix")).alias("url") if c == "url"
        else (F.col("child_seq") + F.col("__pos")).alias("child_seq") if c == "child_seq"
        else F.col(c)
        for c in frontier.columns
    ]
    return exploded.select(*out_cols)


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """Lift the seeds table into frontier rows (depth 0, wave 0), with
    family dispatch and endpoint fan-out applied."""
    # family inlined into the lift Project (it only needs state/layout) —
    # one Project instead of two per wave
    family = F.try_element_at(
        _registry_map_expr(), F.concat_ws(":", F.col("state"), F.col("layout"))
    )
    base = seeds.select(
        F.col("url"),
        urlkit.host(F.col("url")).alias("host"),
        F.lit(0.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.col("event_seq"),
        F.col("seed_seq"),
        F.lit(0).alias("child_seq"),
        F.col("state"),
        F.col("layout"),
        F.col("emc"),
        family.alias("family"),
        F.lit(0).alias("wave"),
    )
    return expand_endpoints(base)
