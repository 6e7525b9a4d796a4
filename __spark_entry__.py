"""Driver contract for the spark-graft builder (PySpark target).

Every implemented operator from SURVEY.md §2 (plus the training-data
pipeline surface) is exposed as a named query over the driver's parquet
tables, with a DuckDB oracle where the semantics are ANSI-SQL-expressible.
Approximate / sketch-based operators (minhash LSH, simhash, Bloom path,
ANN, multimodal stub) are exposed rows-only, as the contract allows.

Column names are aliased identically on both sides; floats are rounded
identically on both sides (sum-order differences live below the rounding).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from outage_data_scraper_spark.functions import textkit, urlkit
from outage_data_scraper_spark.operators import (
    compress,
    dedup,
    multimodal,
    pii,
    shape,
    similarity,
)
from outage_data_scraper_spark.operators.sessionize import ganz_events, sessionize_sql
from outage_data_scraper_spark.operators.standardize import (
    compute_outage_metrics,
    standardize_ga1tx8,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- shared derivations -------------------------------------------------------

def _frontier_from_documents(docs: DataFrame) -> DataFrame:
    """Synthetic frontier with Zipf-free but skew-bearing host keying,
    derived deterministically from the documents table (40 hosts)."""
    host = F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(40)).cast("string"), F.lit(".synth.net"))
    url = F.concat(F.lit("https://"), host, F.lit("/doc/"), F.col("doc_id").cast("string"))
    return docs.select(
        url.alias("url"), host.alias("host"), F.col("n_chars").alias("priority"), "doc_id"
    )


_FRONTIER_SQL = """
    SELECT 'https://h' || (doc_id % 40) || '.synth.net/doc/' || doc_id AS url,
           'h' || (doc_id % 40) || '.synth.net' AS host,
           n_chars AS priority, doc_id
    FROM documents
"""


def _events_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage-observation shape from the events table: one outage per
    user, observations at each event ts, customers = value. start_time is
    shifted −30 min so the reference's first-interval term is non-zero
    (pipeline.py:94)."""
    ev = _t(spark, sf_dir, "events")
    # window keyed on outage_id (the string cast) rather than user_id:
    # the cast is injective, so the groups — and min() — are identical,
    # and every downstream metrics window partitioned by outage_id now
    # shares this one exchange instead of re-shuffling (r8; q25 carried
    # two exchanges for one logical partitioning)
    base = ev.select(
        F.col("user_id").cast("string").alias("outage_id"),
        F.date_trunc("second", F.col("ts")).alias("timestamp"),
        F.col("value").cast("long").alias("customer_affected"),
    )
    w = Window.partitionBy("outage_id")
    return base.select(
        "outage_id",
        "timestamp",
        (F.min("timestamp").over(w) - F.expr("INTERVAL 30 MINUTES")).alias(
            "start_time"
        ),
        "customer_affected",
    )


_EVENTS_OBS_SQL = """
    SELECT user_id::VARCHAR AS outage_id,
           date_trunc('second', ts) AS timestamp,
           min(date_trunc('second', ts)) OVER (PARTITION BY user_id) - INTERVAL 30 MINUTE AS start_time,
           CAST(floor(value) AS BIGINT) AS customer_affected
    FROM events
"""

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# -- query implementations ----------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """O9 filter + O17 hash aggregate with partial (map-side) combine."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q02_top_revenue_orders(spark, sf_dir):
    """O20 equi-joins (dims broadcast by AQE) + agg + deterministic
    top-k. r8: revenue partial-aggregates per l_orderkey BEFORE the
    joins (guide §2.3 aggregate-before-shuffle — the orderkey grouping
    is join-key-aligned, so the per-order sum is unchanged and the
    joins and final aggregate see |orders| rows instead of |lineitem|;
    0.75 → 0.50 s at sf0.1, collect()-identical)."""
    o, li, c = (_t(spark, sf_dir, t) for t in ("orders", "lineitem", "customer"))
    rev = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev")
    )
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(F.round(F.sum("__rev"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q03_region_order_stats(spark, sf_dir):
    """O21 dimension broadcast-join chain → per-region rollup."""
    o, c, n, r = (_t(spark, sf_dir, t) for t in ("orders", "customer", "nation", "region"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q04_latest_event_per_user(spark, sf_dir):
    """O18-style window: latest observation per key via row_number."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("latest_ts"),
            "event_type",
        )
    )


def q05_frontier_pop_topk(spark, sf_dir):
    """O2: per-host priority pop — top-3 per host by (priority desc, url)."""
    fr = _frontier_from_documents(_t(spark, sf_dir, "documents"))
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("url"))
    return (
        fr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("host", "url", "priority", F.col("rn").alias("pop_rank"))
    )


def q06_seen_antijoin(spark, sf_dir):
    """O32: URL-seen set, exact anti-join path."""
    fr = _frontier_from_documents(_t(spark, sf_dir, "documents"))
    seen = fr.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select("url")
    from outage_data_scraper_spark.frontier.seen import filter_unseen_exact

    return filter_unseen_exact(fr.select("url"), seen).select("url")


def q07_url_canonicalize(spark, sf_dir):
    """O1/engine URL kit: canonicalize + host extraction, pure columns."""
    docs = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTPS://H"), F.pmod(F.col("doc_id"), F.lit(40)).cast("string"),
        F.lit(".Synth.NET/doc/"), F.col("doc_id").cast("string"), F.lit("#frag"),
    )
    return docs.select(
        "doc_id",
        urlkit.canonicalize(messy).alias("canonical_url"),
        urlkit.host(messy).alias("host"),
    )


def q08_host_stats(spark, sf_dir):
    """Host-keyed aggregate (frontier skew diagnostics)."""
    fr = _frontier_from_documents(_t(spark, sf_dir, "documents"))
    return fr.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum("priority").alias("total_chars"),
        F.round(F.avg("priority"), 2).alias("avg_chars"),
    )


def q09_ts_range_filter(spark, sf_dir):
    """O24: timestamp-range slice (partition-prunable at scale)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts").between("2024-01-10 00:00:00", "2024-01-20 00:00:00"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q10_contains_filter(spark, sf_dir):
    """O25: substring predicate + projection pushdown."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("text").contains("spark") & (F.col("lang") == "en")).select(
        "doc_id", "n_chars", "source"
    )


def q11_epoch_ms_cast(spark, sf_dir):
    """O12: epoch-ms → timestamp (ga_scraper.py:449–451 semantics)."""
    ev = _t(spark, sf_dir, "events")
    ms = (F.lit(1722470400000) + (F.col("value") * 1000).cast("long") * 60000).alias("ms")
    return ev.select(
        "event_id",
        ms,
        F.date_format(F.timestamp_millis(ms), _TS_FMT_SPARK).alias("derived_ts"),
    )


def q12_event_type_rollup(spark, sf_dir):
    """O17: groupby-sum rollup (tn_scraper.py:190–200 semantics)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )


def q13_keyword_classify(spark, sf_dir):
    """O15: order-sensitive keyword cascade (ga_scraper.py:417–434)."""
    docs = _t(spark, sf_dir, "documents")
    level = (
        F.when(F.col("text").contains("join"), "per_join")
        .when(F.col("text").contains("scan"), "per_scan")
        .when(F.col("text").contains("sort"), "per_sort")
        .otherwise("per_other")
    )
    return docs.select("doc_id", level.alias("level"))


def q14_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", textkit.token_count(F.col("text")).alias("n_tokens"))


def q15_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(textkit.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(textkit.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.round(textkit.quality_score(F.col("text")), 2).alias("quality"),
    )


def q16_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", textkit.lang_id(F.col("text")).alias("lang_pred"))


def q17_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_map(docs)


def q18_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", textkit.fingerprint(F.col("text")).alias("fp"))


def q19_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (md5 shingles; oracle-checked)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k_shingle=3, min_jaccard=0.12)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q20_minhash_lsh(spark, sf_dir):
    """Banded minhash LSH candidates. Registered in the md5 hash-family
    mode (minhash_signature hash_fn='md5'): md5 is the only hash DuckDB
    shares, so the FULL sketch pipeline — shingle → per-permutation min →
    band hash → bucket self-join → signature-estimated Jaccard — is
    mirrored exactly and checked value-exact (it was rows-only while the
    hash family was xxhash64). The xxhash64 default remains the scale
    path; both run the identical plan."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, k_shingle=3, num_perm=16, bands=4, hash_fn="md5"
    )
    return pairs.select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q21_simhash(spark, sf_dir):
    """Simhash near-dup candidates. Registered in the md5 hash-family
    mode (60-bit simhash from md5(token) hex, 6×10-bit pigeonhole bands,
    hamming ≤ 5): md5 + BIGINT bit ops are shared with DuckDB, so the
    whole sketch — per-bit majority vote → banded bucket join →
    bit_count verify — is mirrored exactly and checked value-exact (it
    was rows-only while the hash family was xxhash64, which stays the
    64-bit scale default)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_candidates(docs, max_hamming=5, hash_fn="md5")


def _query_vec(spark, sf_dir):
    row = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").first()
    return [float(x) for x in row[0]]


def q22_cosine_topk(spark, sf_dir):
    """Brute-force exact ANN baseline: top-10 cosine vs vec_id=0."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


def q23_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN. Approximate BY DESIGN vs brute force (q22), but
    fully deterministic given the seed-42 hyperplanes — so the oracle
    reproduces the exact bucket/multiprobe/rerank pipeline with literal
    plane arrays and checks it value-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_topk_lsh(emb, _query_vec(spark, sf_dir), k=10)


def q24_embedding_near_dup(spark, sf_dir):
    """Label-blocked exact cosine pair mining (oracle-checked)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    b = emb.select(F.col("vec_id"), v.alias("v"), F.col("label"))
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(r, (F.col("l.label") == F.col("r.label")) & (F.col("l.vec_id") < F.col("r.vec_id")))
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            F.round(similarity.cosine(F.col("l.v"), F.col("r.v")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


def _twin_corpus(spark, sf_dir):
    """Embeddings ∪ deterministic near-dup twins (odd dims scaled ×1.02 →
    cos ≈ 0.99995, twin id = vec_id + 10⁶). The synthetic embeddings top
    out near cos 0.5, so true near-dups must be planted for a τ ≥ 0.9
    operating point to have anything to find."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", v.alias("embedding"), "label")
    twin = base.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x * (F.lit(1.0) + (i % F.lit(2)).cast("double") * F.lit(0.02)),
        ).alias("embedding"),
        "label",
    )
    return base.unionByName(twin)


def q36_embedding_near_dup_lsh(spark, sf_dir):
    """LSH-blocked cosine pair mining (similarity.embedding_near_dup_pairs):
    the SCALE path for q24's semantics — candidates pair only within a
    (band, bucket) key, never O(n²). Registered at the scale-honest
    operating point: τ = 0.9 with the 8-plane / 4-band defaults (256
    possible buckets per band, so candidate sets stay ≪ n² as the corpus
    grows — tests/test_plans.py asserts occupied-bucket cardinality). Run
    over the twin-augmented corpus, the expected output is exactly the
    (vec, twin) pairs: per-pair LSH miss ≈ (θ/π·8)⁴ ≈ 4·10⁻⁷ at θ ≈ 0.01
    rad and the plane set is seed-deterministic, so the exact all-pairs
    DuckDB oracle matches value-exact. The low-τ recall regime (τ = 0.3,
    2 planes × 8 bands) stays a pytest-only case."""
    pairs = similarity.embedding_near_dup_pairs(
        _twin_corpus(spark, sf_dir), threshold=0.9
    )
    # 3 dp: twin cosines live in [0.99995, 1.0], a 4-dp rounding boundary —
    # 3 dp keeps the cross-engine hash immune to float-vs-double noise
    return pairs.select("id_a", "id_b", F.round("cos_sim", 3).alias("cos_sim"))


def q25_gold_outage_metrics(spark, sf_dir):
    """Flagship: the GA1TX8 standardization pipeline (O18+O19+O20) over
    the events-derived observation table."""
    obs = _events_obs(spark, sf_dir)
    metrics = compute_outage_metrics(obs)
    joined = metrics.join(
        obs.select("outage_id", "timestamp", "customer_affected"),
        ["outage_id", "timestamp"],
        "inner",
    )
    r2 = lambda c: F.round(F.col(c), 2).alias(c)  # noqa: E731
    return joined.select(
        "outage_id",
        F.date_format("start_time", _TS_FMT_SPARK).alias("start_ts"),
        F.date_format("end_time", _TS_FMT_SPARK).alias("end_ts"),
        r2("duration"),
        r2("duration_max"),
        r2("duration_mean"),
        r2("customer_affected_mean"),
        r2("total_customer_outage_time"),
        r2("total_customer_outage_time_max"),
        r2("total_customer_outage_time_mean"),
        F.col("customer_affected").alias("customer_affected_at_end"),
    )


def q26_sessionize(spark, sf_dir):
    """O26 (SQL form): gaps-and-islands sessions over the events series."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("second", "ts").alias("ts"), "value"
    )
    s = sessionize_sql(ev, threshold=50, keys=["user_id"], ts_col="ts", val_col="value")
    return s.select(
        "user_id",
        "session_id",
        F.date_format("session_start_ts", _TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end_ts", _TS_FMT_SPARK).alias("session_end"),
        F.round("duration_min", 2).alias("duration_min"),
        "n_obs",
        F.round("peak_value", 2).alias("peak_value"),
        F.round("tw_mean_value", 2).alias("tw_mean_value"),
    )


def q27_time_weighted_mean(spark, sf_dir):
    """O27: time-weighted mean value per key (step1_ganz.py:49–57)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("second", "ts").alias("ts"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.withColumn(
        "gap_s",
        F.coalesce(
            F.unix_timestamp(F.lead("ts", 1).over(w)) - F.unix_timestamp("ts"), F.lit(0)
        ),
    )
    return gaps.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("gap_s") * F.col("value"))
            / F.when(F.sum("gap_s") > 0, F.sum("gap_s")),
            2,
        ).alias("tw_mean_value")
    )


def q31_json_extract(spark, sf_dir):
    """O7/O8: nested JSON payload → typed columns (the from_json path the
    crawl records table uses for per-family typed views)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json(F.col("props"), "k int").getField("k").alias("k"),
    )


def q32_token_explode(spark, sf_dir):
    """O7: explode over tokenized text → per-token frequency (the
    flatten/explode pattern of boundary lists, ga_scraper.py:223–226)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(textkit.tokens(textkit.normalized(F.col("text")))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
    )


def q34_ann_ivf_topk(spark, sf_dir):
    """IVF-quantized ANN (k-means inverted lists, probed search).
    Registered at the exhaustive-probe point (n_probe = n_centroids):
    every inverted list is scanned, so the FULL pipeline — k-means
    centroid build, cluster assignment, probe ordering, exact rerank —
    runs end-to-end and its result provably equals brute-force top-k,
    giving a value-exact oracle. The selective n_probe < n_centroids
    regime (where recall < 1 is the point) stays a pytest recall case."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_topk_ivf(
        emb, _query_vec(spark, sf_dir), k=10, n_centroids=8, n_probe=8, iters=2
    )


def _ann_index_dir(sf_dir: str, kind: str) -> str:
    import hashlib as _hl
    import os as _os

    # pid-keyed: q45/q46 REBUILD the index every invocation (so staleness
    # across code changes can't happen), but two concurrent driver runs on
    # the same sf_dir must not overwrite each other's hive partitions while
    # the other's probe scans them
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    return f"/tmp/spark_graft_ann_{kind}_{tag}_{_os.getpid()}"


def q45_ann_lsh_index(spark, sf_dir):
    """Persisted LSH ANN index (build → partition-pruned probe): the
    bucket signature is paid ONCE at build time and becomes a hive
    partition key, so the probe reads only the 13 probed buckets'
    directories (pruned scan asserted in tests/test_plans.py) instead of
    re-bucketing the full table per query — the 10^10-row posture.
    Same (n_planes=12, seed=42) operating point as q23, so the identical
    literal-hyperplane oracle checks it value-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ann_index_dir(sf_dir, "lsh")
    similarity.build_lsh_index(emb, path, n_planes=12, seed=42)
    return similarity.query_lsh_index(spark, path, _query_vec(spark, sf_dir), k=10)


def q46_ann_ivf_index(spark, sf_dir):
    """Persisted IVF ANN index: k-means at build time, rows partitioned
    by inverted-list id, centroids pinned in the meta sidecar; the probe
    is a partition-pruned scan + exact rerank. Registered at the
    exhaustive-probe point like q34 (probe = all 8 lists), so the result
    provably equals brute-force top-k — value-exact oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ann_index_dir(sf_dir, "ivf")
    similarity.build_ivf_index(emb, path, n_centroids=8, iters=2)
    return similarity.query_ivf_index(
        spark, path, _query_vec(spark, sf_dir), k=10, n_probe=8
    )


def q47_near_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING (the step after pair mining a dedup pipeline
    actually keys on): connected components over the exact-Jaccard edge
    list (q19's operating point), every document labeled with its
    cluster's canonical (minimum) doc_id; edge-less documents are their
    own singleton component. Spark side: iterative min-label propagation
    (O(diameter) rounds, two hash shuffles each; raises past 25 rounds
    rather than return partial labels — these near-dup graphs are
    short-diameter, and connected_components_star measured slower on
    them); oracle: DuckDB recursive-CTE transitive closure —
    value-exact."""
    from outage_data_scraper_spark.operators.sampling import hash_split  # noqa: F401 (registered together)

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k_shingle=3, min_jaccard=0.12)
    comp = dedup.connected_components(pairs)
    return docs.select("doc_id").join(
        comp, docs["doc_id"] == comp["node"], "left"
    ).select(
        F.col("doc_id"),
        F.coalesce(F.col("label"), F.col("doc_id")).cast("long").alias("component"),
    )


def q48_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10): bucket =
    md5('split-1' || doc_id) mod 100 — reproducible across runs, retries
    and cluster sizes (rand()-based sampling re-rolls on recompute; a
    hash split never leaks rows across sets), narrow plan (projection
    over the scan, no shuffle). md5 so the oracle mirrors the exact
    arithmetic."""
    from outage_data_scraper_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, id_col="doc_id").select("doc_id", "split")


def q49_span_dedup(spark, sf_dir):
    """C4-style corpus-wide duplicated-span removal (Raffel et al. 2020
    §2.2): every exact 4-token span occurring in ≥5 distinct documents is
    boilerplate, cut from all of them, documents reassembled in order.
    Two wide shuffles (span-DF count, per-doc regroup), no collect;
    value-exact oracle mirrors chunking, DF count and ordered
    reassembly."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.span_dedup(docs, span_tokens=4, df_min=5)
    return out.select(
        "doc_id", "n_spans", "n_removed", F.md5("clean_text").alias("clean_sig")
    )


def q50_tfidf_top_terms(spark, sf_dir):
    """Per-document TF-IDF top-5 terms (tf·ln(N/df); rank on the ROUNDED
    score + term tiebreak so both engines select identical rows). Token
    explode → tf agg → df agg → score join → per-doc window; the df
    table is the corpus vocabulary, broadcastable at scale."""
    from outage_data_scraper_spark.operators.terms import top_terms

    docs = _t(spark, sf_dir, "documents")
    return top_terms(docs, k=5)


def q51_clean_corpus_pipeline(spark, sf_dir):
    """The END-TO-END training-corpus cleaning pipeline, composed from
    the verified stages: Gopher quality filter (q43's frozen rules) →
    corpus-wide span dedup over the survivors (q49's operating point) →
    exact dedup on the CLEANED text (min-id canonical) → deterministic
    train/val/test assignment (q48's md5 split). Output: one row per
    surviving canonical document with its split and cleaned-text digest.
    The oracle recomputes the whole composition in SQL — the value hash
    gates every stage boundary, not just the pieces."""
    from outage_data_scraper_spark.operators.sampling import split_column

    docs = _t(spark, sf_dir, "documents")
    # spread BEFORE tokenizing and pin the gopher filter above the
    # exchange (shape.pin_filter) — a plain filter pushes below the
    # repartition and runs the whole rule cascade serially in the
    # one-split scan task (r8)
    toked = shape.spread(docs.select("doc_id", "text")).withColumn(
        "toks", textkit.tokens(F.col("text"))
    )
    kept = shape.pin_filter(
        toked, textkit.gopher_keep(F.col("text"), F.col("toks"))
    ).select("doc_id", "text")
    cleaned = dedup.span_dedup(kept, span_tokens=4, df_min=5).select(
        "doc_id", F.md5("clean_text").alias("clean_sig")
    )
    # min-id canonical WITHOUT a join back: every output column of the
    # surviving row (doc_id = group min, split = f(doc_id), clean_sig =
    # group key) is derivable from the aggregation alone, so the whole
    # upstream cleaning pipeline is computed ONCE per materialization
    # instead of twice (r8; the groupBy+join shape re-derived span_dedup
    # on both join inputs — guide §2.4)
    surv = cleaned.groupBy("clean_sig").agg(F.min("doc_id").alias("doc_id"))
    return surv.select(
        "doc_id", split_column(F.col("doc_id")).alias("split"), "clean_sig"
    )


def q52_repetition_metrics(spark, sf_dir):
    """Within-document repetition (Gopher §A1.1 duplicate line/paragraph
    fraction family, token-chunk form): per doc, total/distinct 4-token
    spans and the duplicate-span fraction — the signal that catches
    degenerate generated/boilerplate pages that cross-doc dedup can't.
    Pure column algebra on hoisted tokens; value-exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.split(textkit.normalized(F.col("text")), " ").alias("toks")
    )
    spans = textkit.span_chunks(F.col("toks"), 4)
    return toked.select(
        "doc_id",
        F.size(spans).cast("long").alias("n_spans"),
        F.size(F.array_distinct(spans)).cast("long").alias("n_unique_spans"),
        F.round(textkit.dup_span_fraction(F.col("toks"), 4), 4).alias("dup_span_frac"),
    )


def q53_stratified_mix(spark, sf_dir):
    """Hash-threshold stratified mix sampling (sampling.stratified_sample):
    downweight the dominant 'en' stratum, thin 'zh', keep the rest whole
    — the training-mix rebalance primitive. Decidable per row: the plan
    is filter-over-scan, ZERO shuffles (plan-asserted in tests), so the
    same row set falls out at any cluster size or retry."""
    from outage_data_scraper_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", MIX_RATES)


MIX_RATES = (("en", 0.5), ("fr", 1.0), ("es", 1.0), ("de", 1.0), ("zh", 0.25))


def q54_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.benchmark_overlap): flag corpus
    docs (doc_id >= 25) sharing any 5-gram with the benchmark slice
    (doc_id < 25). Tiny benchmark shingle set broadcasts; corpus side
    never shuffles text — only probe survivors reach the groupBy."""
    from outage_data_scraper_spark.operators.dedup import benchmark_overlap

    docs = _t(spark, sf_dir, "documents")
    return benchmark_overlap(
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25),
        k=5,
    )


_WARC_SCRATCH = None


def q56_warc_ingest(spark, sf_dir):
    """Common-Crawl-style WARC ingestion (sources/warc.py): the
    deterministic 3-file corpus (gzip member-per-record, one plain
    .warc, one PINNED corrupt member, one must-skip request record) is
    materialized to scratch, then read through the full distributed
    path — binaryFile → member-wise gunzip with resync → record walk →
    HTTP parse → parse_cc text extraction. VALUE-gated against
    testoracle/q56_expected.parquet (scripts/gen_q56_oracle.py stamps
    it from the same bytes via the same shared pure parser)."""
    import tempfile

    from outage_data_scraper_spark.sources import warc

    # one private dir PER PROCESS (cached): fresh-per-call leaks a dir
    # every invocation, while a shared fixed path accumulates stale
    # files from prior corpus revisions and races concurrent runs —
    # the process cache gives both isolation and boundedness
    global _WARC_SCRATCH
    if _WARC_SCRATCH is None:
        d = tempfile.mkdtemp(prefix="spark_graft_warc_")
        for name, blob in warc.synth_warc_corpus():
            with open(os.path.join(d, name), "wb") as f:
                f.write(blob)
        _WARC_SCRATCH = d
    d = _WARC_SCRATCH
    pages = warc.read_warc(spark, d)
    return pages.select(
        "url",
        "warc_ts",
        "http_status",
        "mime",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_sig"),
        F.element_at(F.split(F.col("warc_file"), "/"), -1).alias("warc_name"),
    )


def q57_bigram_lm_score(spark, sf_dir):
    """Corpus-trained bigram LM quality score (operators/lm.py): per doc
    the average negative log-likelihood of its bigrams under the add-one
    corpus model — the CCNet/KenLM-family filter signal. NLL summed in
    integer micro-nats so the value gate is immune to float sum order."""
    from outage_data_scraper_spark.operators.lm import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


def q62_bigram_lm_frozen(spark, sf_dir):
    """FROZEN-model bigram LM scoring (operators/lm.py): train once,
    broadcast the count tables, score in a map-only pass with ZERO wide
    shuffles (plan-asserted in tests/test_plans.py) — the shape a
    100 TB scoring pass actually uses. Trained on the same corpus it
    scores, the result provably equals the self-trained q57 path, so
    q57's oracle gates it value-exact."""
    from outage_data_scraper_spark.operators.lm import (
        score_bigram_lm_frozen,
        train_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    return score_bigram_lm_frozen(docs, train_bigram_lm(docs))


def q63_dup_substring_spans(spark, sf_dir):
    """ExactSubstr duplicated-substring measurement (Lee et al. 2021
    §4.1, re-expressed relationally — dedup.duplicated_substring_spans):
    every 8-token SLIDING window occurring at ≥2 positions anywhere in
    the corpus (including the same document) is duplicated; per doc the
    overlapping windows merge into maximal spans via gaps-and-islands.
    Complements q49's C4 chunking: sliding windows catch SHIFTED copies
    disjoint chunks miss. One wide shuffle on window text (partial-agg)
    + a per-doc regroup; oracle mirrors windows, count, island merge."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicated_substring_spans(docs, window_tokens=8, min_count=2)


def q65_sq8_quantized_ann(spark, sf_dir):
    """ANN over int8 SCALAR-QUANTIZED embeddings (similarity.sq8_*):
    per-dimension (min, max−min) codebook from one partial-aggregated
    64-key shuffle, uniform 256-level codes (4× smaller than float32 —
    the column a 100 TB embedding scan actually reads), midpoint
    reconstruction, symmetric quantized cosine top-10 vs vec_id 0.
    Every step is frozen double arithmetic in the exact expression
    shape the oracle mirrors; ranking on the ROUNDED score + id."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.sq8_cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


def q66_pii_scrub_report(spark, sf_dir):
    """PII audit + redaction (operators/pii.py): per-doc counts of
    emails / SSN-shaped ids / US phones / IPv4s and the md5 of the
    scrubbed text. The corpus has no organic PII, so the query injects
    it deterministically from doc_id (doc_id%3 → email, %5 → IPv4,
    %7 → phone, %11 → SSN) with the SAME concat/lpad expressions in
    both engines — every count and every scrubbed md5 is then a real
    cross-engine check of the regex+replace semantics. Pure projection:
    zero shuffles at any corpus size; patterns live in the Java∩RE2
    regex subset (pii.py module docstring)."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 192.168."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    enriched = docs.select("doc_id", injected.alias("text"))
    return pii.pii_report(enriched).orderBy("doc_id")


def q67_compression_signal(spark, sf_dir):
    """zlib compression-ratio quality signal (operators/compress.py):
    per-doc UTF-8 byte length, zlib-6 compressed length, and ratio in
    basis points via integer DIV — integer-exact end to end. One
    Arrow-batched Pandas UDF in a pure projection (zero shuffles; the
    pass runs at scan speed at any corpus size). DuckDB has no zlib, so
    the oracle SELECTs a committed parquet stamped by the same
    compressed_len_py over the same input, guarded by an input digest
    (scripts/gen_q67_oracle.py)."""
    docs = _t(spark, sf_dir, "documents")
    return compress.compression_signal(docs).orderBy("doc_id")


def q68_bpe_train(spark, sf_dir):
    """BPE merge training (operators/bpe.py): ONE corpus-sized
    word-frequency shuffle, then the vocabulary is collected to the
    driver and the 30 merge iterations run there (the scale shape that
    makes tokenizer training feasible at 100 TB — merge cost is
    O(vocabulary), never O(corpus), and no Spark job per merge); pair
    argmax with deterministic (freq DESC, left, right) tiebreak,
    left-to-right non-overlapping merge. Iterative argmax is not ANSI
    SQL, so the oracle is a committed parquet stamped by train_bpe_py —
    the exact Python twin — input-digest guarded
    (scripts/gen_q68_oracle.py)."""
    from outage_data_scraper_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.train_bpe(docs, n_merges=30).orderBy("step")


def q69_url_filter(spark, sf_dir):
    """URL-level corpus filtering (operators/urlfilter.py): registered
    domain under a frozen multi-label-suffix subset, subdomain/path
    depth, query-param count, host digit ratio (basis points, integer
    DIV), blocklist flag via a BROADCAST join (the frontier side never
    shuffles), and the frozen keep rule. URLs are synthesized from
    doc_id identically in both engines, covering every branch: plain
    hosts, co.uk suffixes, 4-deep subdomains (dropped), blocklisted
    domains, digit-heavy cdn hosts."""
    from outage_data_scraper_spark.operators import urlfilter

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    hx = F.pmod(did, F.lit(40)).cast("string")
    host = (
        F.when(did % 5 == 0, F.concat(F.lit("h"), hx, F.lit(".synth.net")))
        .when(did % 5 == 1, F.concat(F.lit("www.h"), hx, F.lit(".synth.co.uk")))
        .when(did % 5 == 2, F.concat(F.lit("a.b.c.h"), hx, F.lit(".synth.org")))
        .when(did % 5 == 3, F.concat(F.lit("h"), hx, F.lit(".spam-domain.net")))
        .otherwise(
            F.concat(
                F.lit("cdn"),
                F.pmod(did, F.lit(97)).cast("string"),
                F.pmod(did, F.lit(10)).cast("string"),
                F.lit(".h"),
                hx,
                F.lit(".synth.com"),
            )
        )
    )
    path = F.when(
        did % 3 == 0, F.concat(F.lit("/a/b/c/doc"), did.cast("string"))
    ).otherwise(F.concat(F.lit("/doc"), did.cast("string")))
    query = F.when(did % 4 == 0, F.lit("?x=1&y=2&z=3")).otherwise(F.lit(""))
    frontier = docs.select(
        F.concat(F.lit("https://"), host, path, query).alias("url")
    )
    blocklist = spark.createDataFrame(
        [("spam-domain.net",), ("evil.example",)], "reg_domain string"
    )
    return urlfilter.url_quality_features(frontier, blocklist).orderBy("url")


def q70_inverted_index(spark, sf_dir):
    """Positional inverted index (operators/index.py): per term, df,
    total_tf, and the "doc:p1|p2,..." posting list — two map-side-
    combined shuffles ((term,doc) then term); posting order is fully
    deterministic (positions via sort_array, docs via struct sort), so
    the string gate is exact. doc_buckets shards Zipf-head postings at
    scale; 1 here."""
    from outage_data_scraper_spark.operators import index

    docs = _t(spark, sf_dir, "documents")
    return index.build_inverted_index(docs, min_df=2).orderBy("term")


def q71_bm25_search(spark, sf_dir):
    """BM25 top-20 (operators/index.py:bm25_topk) for the query
    {spark, window, join}: corpus explode filtered to query terms
    immediately (only matches shuffle), df table broadcast, N/avgdl
    driver scalars. Float-immune ranking: per-term contributions round
    to integer MICRO-UNITS before the per-doc sum (integer sum is
    order-free — the q57 micro-nat pattern), so score_u gates exactly
    with no rounded-ordering games."""
    from outage_data_scraper_spark.operators import index

    docs = _t(spark, sf_dir, "documents")
    return index.bm25_topk(docs, ["spark", "window", "join"], top_k=20)


def q72_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity partitioning: bucket every doc by its
    bigram-LM score (q57's avg_nll — already value-gated, so the CASE
    thresholds cut on a number both engines agree on exactly) into
    head/middle/tail, and report per-bucket (n_docs, total_bigrams,
    min/max avg_nll). The production form replaces the frozen cut
    points with trained-LM percentiles; the bucket operator itself —
    a projection + one tiny aggregate — is unchanged. Zero extra
    passes: the bucket rides the scoring scan."""
    from outage_data_scraper_spark.operators.lm import bigram_lm_scores

    scored = bigram_lm_scores(_t(spark, sf_dir, "documents"))
    bucket = (
        F.when(F.col("avg_nll") < 3.39, F.lit("head"))
        .when(F.col("avg_nll") < 3.42, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.select(bucket.alias("bucket"), "n_bigrams", "avg_nll")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("total_bigrams"),
            F.min("avg_nll").alias("min_nll"),
            F.max("avg_nll").alias("max_nll"),
        )
        .orderBy("bucket")
    )


def q73_asof_join(spark, sf_dir):
    """Backward as-of join (operators/asof.py): every purchase event
    picks up the user's latest click at-or-before it. Union + window —
    ONE hash shuffle on user_id, a single sorted pass per key, no
    range-join pair blow-up (the shape that survives hot keys at
    10^10 rows). The right side pre-dedups (user_id, ts) by max
    event_id in BOTH engines so the match is fully deterministic;
    DuckDB's native ASOF LEFT JOIN is the oracle. Timestamps gate as
    integer epoch-microseconds (float/format-immune)."""
    from outage_data_scraper_spark.operators import asof

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    right = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    j = asof.asof_join(left, right, on="ts", by="user_id")
    # ts is TIMESTAMP_NTZ; session tz is UTC, so the cast pins the same
    # instant DuckDB's epoch_us reads off the naive timestamp
    lus = F.unix_micros(F.col("ts").cast("timestamp"))
    rus = F.unix_micros(F.col("r_ts").cast("timestamp"))
    return j.select(
        "event_id",
        "user_id",
        lus.alias("ts_us"),
        F.col("r_event_id"),
        (lus - rus).alias("lag_us"),
    ).orderBy("event_id")


def q74_range_join(spark, sf_dir):
    """Range (point-in-interval) join (operators/rangejoin.py):
    purchases match the signup intervals [ts, ts + (event_id%7200+60)s]
    of the same user. Bucketized — intervals explode to the 1-hour
    epoch buckets they cover, points compute ONE bucket, match is an
    equi-join + exact BETWEEN post-filter: O(points + intervals·span +
    matches), never a nested-loop inequality join. All arithmetic is
    integer epoch-µs DIV (boundary-exact cross-engine)."""
    from outage_data_scraper_spark.operators import rangejoin

    ev = _t(spark, sf_dir, "events")
    us = lambda: F.unix_micros(F.col("ts").cast("timestamp"))  # noqa: E731
    points = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", us().alias("p_us")
    )
    ivals = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("i_id"),
        "user_id",
        us().alias("start_us"),
        (us() + (F.col("event_id") % 7200 + 60) * F.lit(1_000_000)).alias("end_us"),
    )
    j = rangejoin.interval_point_join(
        points, ivals, "p_us", "start_us", "end_us", by="user_id"
    )
    return j.select(
        "p_id",
        "i_id",
        "user_id",
        "p_us",
        (F.col("p_us") - F.col("start_us")).alias("offset_us"),
    ).orderBy("p_id", "i_id")


def q75_rollup_cascade(spark, sf_dir):
    """Hypertable rollup (operators/rollup.py): minute → hour → day
    continuous aggregates where each coarser level RE-AGGREGATES the
    finer one (raw scanned once; levels localCheckpoint'd so the union
    doesn't re-execute the chain per branch). Mergeable aggs only
    (sum/count/min/max), values as floored integer micro-units so
    sums are order-free; the oracle aggregates RAW directly at every
    level — equality IS the mergeability proof."""
    from outage_data_scraper_spark.operators import rollup

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("value_u"),
    )
    return rollup.rollup_cascade(ev).orderBy("level_s", "event_type", "bucket_us")


def q76_hll_distinct(spark, sf_dir):
    """Cross-engine-EXACT HyperLogLog (operators/sketch.py): md5-based
    4096-register sketch over events.user_id — the register table is
    bit-identical in both engines (neither builtin approx_count_distinct
    can gate the other), the harmonic sum is an INTEGER sum in 2^-49
    units (order-free), and the α·m²/Σ + linear-counting estimate is one
    frozen expression rounded at the end. exact_distinct rides along so
    the artifact shows the sketch's accuracy."""
    from outage_data_scraper_spark.operators import sketch

    ev = _t(spark, sf_dir, "events")
    summary = sketch.hll_estimate(sketch.hll_registers(ev, "user_id"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return summary.crossJoin(exact)


def q77_streaming_windowed_counts(spark, sf_dir):
    """Structured Streaming, VALUE-GATED: the events table replayed as
    a file stream (streaming/poll.py) → watermark → 15-min windowed
    counts → parquet sink via Trigger.AvailableNow, then the sink read
    back. Append mode emits exactly the windows whose end ≤ final
    watermark (max event ts − 30 min) — deterministic, so the batch-SQL
    oracle reproduces the STREAMING emission rule, not just the counts.
    Fresh mkdtemp sink+checkpoint per invocation (no cross-run state,
    no concurrent-driver races)."""
    import tempfile

    from outage_data_scraper_spark.streaming.poll import (
        poll_stream,
        run_available_now,
        windowed_outage_counts,
    )

    schema = _t(spark, sf_dir, "events").schema
    stream = poll_stream(spark, sf_dir, pattern="events.parquet", schema=schema)
    obs = stream.select(
        F.col("ts").cast("timestamp").alias("ts"), F.col("event_type")
    )
    res = windowed_outage_counts(obs, ts_col="ts", key_col="event_type")
    d = tempfile.mkdtemp(prefix="q77_")
    run_available_now(res, f"{d}/sink", f"{d}/ckpt")
    out = spark.read.parquet(f"{d}/sink")
    return out.select(
        F.unix_micros("window_start").alias("ws_us"),
        F.unix_micros("window_end").alias("we_us"),
        "event_type",
        "n_records",
    ).orderBy("ws_us", "event_type")


def q78_quota_sample(spark, sf_dir):
    """EXACT per-stratum quota sampling (sampling.quota_sample): the k
    smallest (hash60, doc_id) per language — deterministic, retry- and
    scale-invariant. Quotas exercise every regime: en 100 of 218 (cut),
    zh 75 of 75 (exact population), fr 100 of 64 (quota > population →
    whole stratum), de 30 of 70 (cut), es absent (dropped). The
    two-phase prefilter+validate inside the operator cannot change the
    result set, so the oracle is the plain full-rank statement."""
    from outage_data_scraper_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.quota_sample(
        docs, "lang", {"en": 100, "de": 30, "zh": 75, "fr": 100}
    )
    return out.select("doc_id", "lang", "sample_rank").orderBy("lang", "sample_rank")


def q79_bpe_encode_stats(spark, sf_dir):
    """The encode side of the tokenizer loop (bpe.encode_words): train
    q68's 30 merges, encode the DISTINCT-word table (O(vocabulary) fold
    work, never O(corpus)), then join symbol counts back onto the
    corpus for per-doc (n_words, n_bpe_tokens) — the token-budget
    numbers a training pipeline actually reports. Oracle: committed
    parquet stamped by the train+encode Python twins, digest-guarded
    (scripts/gen_q79_oracle.py)."""
    from outage_data_scraper_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right) for r in bpe.train_bpe(docs, 30).orderBy("step").collect()
    ]
    toks = textkit.tokens(textkit.normalized(F.col("text")))
    doc_words = docs.select("doc_id", F.explode(toks).alias("word")).filter(
        F.col("word") != ""
    )
    enc = bpe.encode_words(doc_words.select("word").distinct(), merges).select(
        "word", F.size("sym").alias("wtok")
    )
    agg = doc_words.join(enc, "word").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("wtok").alias("n_bpe_tokens"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def q80_ann_ivf_sq8_index(spark, sf_dir):
    """Persisted QUANTIZED IVF ANN index (similarity.build_ivf_sq8_index
    + query_ivf_sq8_index): q46's partitioned inverted lists composed
    with q65's SQ8 int8 codes — the index stores the code arrays, not
    the float vectors, so the probe's partition-pruned scan reads ~4×
    fewer bytes (the actual 100 TB serving shape: at a trillion vectors
    the probe's I/O is the latency). Centroids AND the (mn, scale)
    codebook ride in the meta sidecar; the rerank dequantizes with the
    byte-identical expression shapes as q65's brute force. Registered
    exhaustive-probe (n_probe = 8 = n_centroids) so the result provably
    equals the quantized brute force — q65's oracle gates it
    value-exact; PartitionFilters pruning is plan-asserted in
    tests/test_plans.py."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ann_index_dir(sf_dir, "ivfsq8")
    similarity.build_ivf_sq8_index(emb, path, n_centroids=8, iters=2)
    return similarity.query_ivf_sq8_index(
        spark, path, _query_vec(spark, sf_dir), k=10, n_probe=8
    )


def q81_cms_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters (operators/sketch.py): the corpus
    shuffles ONCE into a mergeable d×w counter grid (md5 buckets — the
    q76 cross-engine-hash pattern, so the SKETCH ITSELF is value-gated,
    not just the answers); candidate terms probe it via a broadcast of
    the ≤ 8192-row table. est_cnt is the classic min-over-rows upper
    bound; exact_cnt rides along so the artifact shows est ≥ exact.
    Deterministic membership: every term with est ≥ 100 (a set, no
    top-k tie risk)."""
    from outage_data_scraper_spark.functions import textkit
    from outage_data_scraper_spark.operators import sketch

    docs = _t(spark, sf_dir, "documents")
    toks = docs.filter(F.length(F.trim("text")) > 0).select(
        F.explode(textkit.tokens(textkit.normalized(F.col("text")))).alias("term")
    )
    # one corpus aggregation feeds everything (r8): the sketch builds
    # from the vocab-sized exact-count table (cms_table with cnt_col —
    # identical cells, the sum distributes), so the corpus explodes
    # once and the d md5 bucket hashes run per DISTINCT term, not per
    # token occurrence
    cand = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    table = sketch.cms_table(cand, "term", cnt_col="exact_cnt")
    est = sketch.cms_estimate(table, cand.select("term"), "term")
    return (
        est.join(cand, "term")
        .filter(F.col("est_cnt") >= 100)
        .select("term", "est_cnt", F.col("exact_cnt").cast("long"))
        .orderBy(F.col("est_cnt").desc(), "term")
    )


def q82_exact_quantiles(spark, sf_dir):
    """EXACT distributed order statistics (operators/quantiles.py):
    min / p25 / median / p75 / max of documents.n_chars via the
    two-pass histogram-then-needed-buckets-only algorithm — no global
    sort, no single-partition window, second pass reads ~n/1024 of the
    data. Neither engine's approx quantile can gate the other; exact
    ranks can (the oracle is a plain row_number window)."""
    from outage_data_scraper_spark.operators.quantiles import exact_order_stats

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    ranks = sorted({1, n // 4, n // 2, (3 * n) // 4, n})
    return exact_order_stats(
        docs, "n_chars", ranks, n_buckets=64, tiebreak_col="doc_id"
    )


def q83_shard_plan(spark, sf_dir):
    """Size-budgeted training-shard manifest (operators/shards.py):
    documents packed in doc_id order into ~8 KiB shards via the
    TWO-LEVEL distributed prefix sum (per-chunk windows + a
    group-count-sized offset window — never a row-count-sized
    single-partition window), shard_id = exclusive prefix DIV budget.
    The oracle is the semantic one-window definition, so the
    decomposition is value-gated against it."""
    from outage_data_scraper_spark.operators.shards import plan_shards, shard_manifest

    docs = _t(spark, sf_dir, "documents")
    assign = plan_shards(docs, "n_chars", "doc_id", shard_bytes=8192, chunk=64)
    return (
        shard_manifest(assign, "doc_id")
        .select(
            "shard_id", "n_docs", "bytes",
            F.col("first").alias("first_doc"), F.col("last").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


def q84_stateful_sessions(spark, sf_dir):
    """CUSTOM STATEFUL STREAMING operator, VALUE-GATED
    (streaming/stateful.py): session windows with event-time timeout
    via applyInPandasWithState — arbitrary per-key state that outlives
    micro-batches, evicted by the watermark. Events replay as four
    ts-ordered weekly files (fixed thresholds — constants in BOTH
    engines), one micro-batch each under Trigger.AvailableNow. The
    emission set AND the closed_by labels are deterministic
    (probe-confirmed ms-floor watermark rules, strict-inequality
    timeout, data-beats-timeout race — module docstring), so the batch
    oracle reproduces the streaming run exactly: sessions closed by a
    gap-separated successor ('gap'), sessions whose timeout fired in a
    batch BEFORE their successor's file ('timeout'), final sessions
    iff the final watermark passed them ('timeout'); still-open state
    never emits. Fresh mkdtemp workdir per invocation."""
    import tempfile
    from datetime import datetime

    from outage_data_scraper_spark.streaming.stateful import run_stateful_sessions

    ev = _t(spark, sf_dir, "events")
    thresholds = [datetime(2024, 1, 8), datetime(2024, 1, 15), datetime(2024, 1, 22)]
    d = tempfile.mkdtemp(prefix="q84_")
    return run_stateful_sessions(
        spark, ev, thresholds, d, ts_col="ts", key_col="user_id",
        gap_s=1800, delay_s=900,
    )


def q85_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (operators/fingerprint.py) — the
    MOSS scheme: md5-hash every 4-token shingle, keep the minimum hash
    of each window of 4 consecutive shingle hashes (rightmost on ties
    via the packed h*2^24 + (2^24-1-pos) integer key). Guarantees a
    shared fingerprint for any shared run >= w+k-1 = 7 tokens while
    keeping ~2/(w+1) of the hashes. Zero-shuffle Arrow-batched
    projection (plan-asserted); the oracle re-derives the identical
    integer selection in DuckDB list comprehensions."""
    from outage_data_scraper_spark.operators.fingerprint import (
        winnow_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=4, w=4).orderBy("doc_id", "pos")


def q86_fingerprint_overlap(spark, sf_dir):
    """Cross-document winnowing-fingerprint overlap
    (operators/fingerprint.py:fingerprint_overlap) — MOSS's match step:
    pairs of documents sharing >= 2 selected fingerprints, boilerplate
    fps (document frequency > 50) dropped first so no fp bucket can
    fan out more than 50^2 pairs (the skew guard a 100 TB corpus
    needs). The pairs come from shape.pair_mine keyed on fp, no join."""
    from outage_data_scraper_spark.operators.fingerprint import (
        fingerprint_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    return fingerprint_overlap(docs, k=4, w=4, min_shared=2, max_df=50).orderBy(
        "id_a", "id_b"
    )


def q87_remove_dup_spans(spark, sf_dir):
    """ExactSubstr span REMOVAL (dedup.remove_duplicated_spans — Lee et
    al. 2021's actual intervention; q63 MEASURES these spans, this CUTS
    them): every token covered by a maximal duplicated 8-token sliding
    window is deleted from EVERY occurrence, survivors reassembled in
    order. clean_md5 digests the reassembled text so the value hash
    gates the full reconstruction (the q49 pattern). Oracle: an
    independent covered-position formulation (window expansion +
    anti-join + ordered string_agg) vs the engine's span-complement
    zip_with slices — two derivations of the same removal law."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.remove_duplicated_spans(docs, window_tokens=8, min_count=2)
    return out.select(
        "doc_id",
        "orig_tokens",
        "kept_tokens",
        "removed_tokens",
        F.md5("clean_text").alias("clean_md5"),
    )


def q88_training_export(spark, sf_dir):
    """END-TO-END corpus → training-artifact manifest, composing three
    individually-gated stages ACROSS their boundaries: q51's cleaning
    pipeline picks the surviving canonical docs → q79's BPE encode
    prices each survivor in tokens → q83's two-level-prefix-sum shard
    planner packs survivors (doc_id order) into 4096-token shards. One
    row per shard with doc/token/byte totals and the doc_id range — the
    manifest a training run opens. The oracle composes the three gated
    oracles as subqueries (the q59 pattern), so the stage boundaries
    are value-gated, not just the pieces."""
    from outage_data_scraper_spark.operators.shards import plan_shards

    docs = _t(spark, sf_dir, "documents")
    surv = q51_clean_corpus_pipeline(spark, sf_dir).select("doc_id")
    stats = q79_bpe_encode_stats(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    sized = surv.join(stats, "doc_id").join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    assign = plan_shards(sized, "n_bpe_tokens", "doc_id", shard_bytes=4096, chunk=64)
    return (
        assign.join(sized.select("doc_id", "n_chars"), "doc_id")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("size").cast("long").alias("tokens"),
            F.sum("n_chars").cast("long").alias("bytes"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


def q89_fingerprint_dedup_clusters(spark, sf_dir):
    """MOSS-style LOCAL dedup end-to-end — the fingerprint alternative
    to q20's MinHash banding: winnowing fingerprints (q85) → df-capped
    overlap pairs (q86's operating point) → connected components
    (q47's min-label kernel, which raises rather than return partial
    labels past its 25-round cap) → canonical keep = cluster-minimum
    doc_id.
    Every document is labeled; edge-less docs are their own singleton
    and kept. Oracle: q86's pair derivation feeding q47's
    recursive-CTE transitive closure."""
    from outage_data_scraper_spark.operators.fingerprint import fingerprint_overlap

    docs = _t(spark, sf_dir, "documents")
    pairs = fingerprint_overlap(docs, k=4, w=4, min_shared=2, max_df=50).select(
        "id_a", "id_b"
    )
    comp = dedup.connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("label"), F.col("doc_id")).cast("long").alias("component"),
            (
                F.coalesce(F.col("label"), F.col("doc_id")) == F.col("doc_id")
            ).alias("keep"),
        )
    )


def q90_clean_pipeline_exactsubstr(spark, sf_dir):
    """q51's cleaning pipeline with ExactSubstr span REMOVAL as the
    dedup stage (the alternative composition the Lee et al. 2021
    intervention feeds): Gopher quality filter (q43's frozen rules) →
    remove_duplicated_spans over the survivors (8-token windows,
    corpus-wide ≥2 positions — catches the SHIFTED copies q51's C4
    chunking misses) → exact dedup on the cleaned text (min-id
    canonical) → q48's deterministic split. Window counts are over the
    KEPT corpus (post-filter), mirrored exactly in the oracle, which
    shares q51's gopher CTEs and split CASE via module constants."""
    from outage_data_scraper_spark.operators.sampling import split_column

    docs = _t(spark, sf_dir, "documents")
    # spread + pinned gopher filter (see q51): the rule cascade must not
    # serialize below the repartition into the one-split scan task (r8)
    toked = shape.spread(docs.select("doc_id", "text")).withColumn(
        "toks", textkit.tokens(F.col("text"))
    )
    kept = shape.pin_filter(
        toked, textkit.gopher_keep(F.col("text"), F.col("toks"))
    ).select("doc_id", "text")
    # spread=False: kept is already distributed by the pinned gopher
    # stage's exchange — the operator's own spread would re-probe the
    # underlying one-split file and pay a redundant round-robin
    # exchange (r8; core A/B 1.65 -> 1.17 s)
    cleaned = dedup.remove_duplicated_spans(
        kept, window_tokens=8, min_count=2, spread=False
    ).select("doc_id", F.md5("clean_text").alias("clean_sig"))
    # one-pass min-id canonical (see q51): the survivor row is fully
    # derivable from groupBy(clean_sig).agg(min(doc_id)) — no join back,
    # so the ExactSubstr removal pipeline runs once, not twice (r8)
    surv = cleaned.groupBy("clean_sig").agg(F.min("doc_id").alias("doc_id"))
    return surv.select(
        "doc_id", split_column(F.col("doc_id")).alias("split"), "clean_sig"
    )


def q91_bigram_lm_model_table(spark, sf_dir):
    """q62's frozen-model scoring with the model persisted AS PARQUET
    TABLES and applied via map-side broadcast joins
    (lm.train_bigram_lm_table / score_bigram_lm_table) — the
    production shape when the floored count tables are too big for a
    driver dict (VERDICT r6 caution). Trained on the same corpus it
    scores, so q57's oracle gates it value-exact, like q62 (parity
    pytest proves table ≡ dict ≡ self-trained; the plan test pins both
    model joins to BroadcastHashJoin with the per-doc regroup as the
    only exchange)."""
    import hashlib as _hl
    import tempfile

    from outage_data_scraper_spark.operators.lm import (
        score_bigram_lm_table,
        train_bigram_lm_table,
    )

    docs = _t(spark, sf_dir, "documents")
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_q91_model_{tag}")
    train_bigram_lm_table(docs, path)
    return score_bigram_lm_table(docs, path)


def q92_kmeans_micro(spark, sf_dir):
    """Integer-exact distributed k-means (operators/cluster.py —
    pagerank_micro's integer trick applied to geometry): floor-quantized
    micro coordinates with a positivity offset (Spark DIV and DuckDB //
    agree only on non-negative operands), argmin assignment as ONE
    array_min over a literal-centroid struct array (pure projection —
    the corpus never shuffles to find its cluster), centroid update as
    one map-side-combined (cid, dim) shuffle reduced to k×dim cells.
    Value-gated: the oracle unrolls the identical rounds as chained
    CTEs (the q58 pattern), so cluster LABELS match bit-for-bit — a
    gate float Lloyd iterations cannot pass."""
    from outage_data_scraper_spark.operators import cluster

    emb = _t(spark, sf_dir, "embeddings")
    return cluster.kmeans_micro(emb, k=8, n_iter=2).orderBy("vec_id")


def q93_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023; operators/cluster.py)
    over the twin-planted corpus: q92's integer k-means blocks the
    quadratic search into clusters, then a vector is dropped iff a
    LOWER-id same-cluster vector has 4dp-rounded cosine ≥ 0.99 (the
    q24 rounded-threshold law). The twin plant (q36's corpus) gives the
    τ=0.99 operating point real positives; cross-cluster near-dups are
    the documented approximation. Oracle: twin CTEs + the unrolled
    k-means CTEs + the same pair law."""
    from outage_data_scraper_spark.operators import cluster

    return cluster.semdedup(
        _twin_corpus(spark, sf_dir), k=8, n_iter=2, tau=0.99
    ).orderBy("vec_id")


def q94_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — the n-gram-LM
    log-ratio form): every document scored under TWO frozen bigram
    models — target = the English subset, source = the full corpus —
    via the q91 parquet-table broadcast-join path; weight_micro =
    round((nll_source − nll_target)·1e4), an integer in 0.1-milli-nat
    units (positive ⇒ more target-like), exact cross-engine because
    both inputs are the gated 4dp-rounded avg_nll values. The weight
    TABLE is the artifact; selection on it is q02/q78 machinery (a
    per-row selected flag would need a row-scale unpartitioned window
    — banned). Scale shape: two broadcast-join scoring passes (zero
    model shuffles) + one doc_id join of two doc-sized score tables."""
    import hashlib as _hl
    import tempfile

    from outage_data_scraper_spark.operators.lm import (
        score_bigram_lm_table,
        train_bigram_lm_table,
    )

    docs = _t(spark, sf_dir, "documents")
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_q94_{tag}")
    train_bigram_lm_table(docs.filter(F.col("lang") == "en"), base + "/target")
    train_bigram_lm_table(docs, base + "/source")
    t = score_bigram_lm_table(docs, base + "/target").select(
        "doc_id", F.col("avg_nll").alias("t_nll")
    )
    s = score_bigram_lm_table(docs, base + "/source").select(
        "doc_id", F.col("avg_nll").alias("s_nll")
    )
    return (
        t.join(s, "doc_id")
        .select(
            "doc_id",
            F.round((F.col("s_nll") - F.col("t_nll")) * 10000, 0)
            .cast("long")
            .alias("weight_micro"),
        )
        .orderBy("doc_id")
    )


def q95_streaming_dedup(spark, sf_dir):
    """STREAMING exact dedup, VALUE-GATED (streaming/stateful.py:
    dedup_stream): q17's batch dedup as keyed state — per content
    signature (md5 of event_type|props), the first micro-batch
    containing it emits exactly one row (min-(ts, event_id) occurrence
    + that batch's count); later batches only bump the seen counter.
    State is O(distinct signatures), the content analog of the crawl's
    URL-seen set. Events replay as q84's four weekly files, one batch
    each under AvailableNow; emitted rows are pure functions of the
    data + thresholds, so the batch oracle reproduces the streaming
    run exactly. Fresh mkdtemp workdir per invocation."""
    import tempfile
    from datetime import datetime

    from outage_data_scraper_spark.streaming.stateful import run_streaming_dedup

    ev = _t(spark, sf_dir, "events")
    thresholds = [datetime(2024, 1, 8), datetime(2024, 1, 15), datetime(2024, 1, 22)]
    d = tempfile.mkdtemp(prefix="q95_")
    sig = F.md5(F.concat_ws("|", "event_type", "props"))
    return run_streaming_dedup(
        spark, ev, thresholds, d, sig, ts_col="ts", id_col="event_id"
    ).orderBy("sig")


def q96_nb_quality_classifier(spark, sf_dir):
    """Learned quality CLASSIFIER (operators/classifier.py): the
    fastText-style filter LLM pipelines train to separate good text
    from raw crawl, as multinomial Naive Bayes — closed-form count
    training makes the weights value-gatable where SGD is not. Labels
    bootstrap from the Gopher rules (q43's frozen predicate — the
    heuristic-label cold start); every doc gets the integer micro-nat
    log-likelihood-ratio score and the ≥0 decision. Oracle shares the
    gopher CTEs with q51/q90 and mirrors the weight expression."""
    from outage_data_scraper_spark.operators.classifier import nb_quality_scores

    docs = _t(spark, sf_dir, "documents")
    toked = docs.withColumn("__gtoks", textkit.tokens(F.col("text")))
    label = textkit.gopher_keep(F.col("text"), F.col("__gtoks"))
    return nb_quality_scores(toked, label).orderBy("doc_id")


def q97_streaming_dedup_ttl(spark, sf_dir):
    """TTL-EVICTED streaming dedup, VALUE-GATED
    (streaming/stateful.py:dedup_stream_ttl): q95's seen-state with
    event-time eviction — the unbounded-key shape (state = keys live
    within one TTL window); a key re-emits once per eviction island.
    Key = md5(user_id|props) (7,310 sigs with skip-a-batch sighting
    patterns), TTL 6 days, delay 900 s: (1,4)-pattern keys re-emit,
    (2,4) keys split on whether their last week-2 sighting beats the
    cm(2)−TTL boundary, and (1,3) keys can NEVER re-emit because the
    watermark lags one file — the oracle's recursive-CTE fold encodes
    exactly the probe-confirmed q84 watermark laws (strict excess,
    data-beats-timeout, cummax through q−2)."""
    import tempfile
    from datetime import datetime

    from outage_data_scraper_spark.streaming.stateful import (
        run_streaming_dedup_ttl,
    )

    ev = _t(spark, sf_dir, "events")
    thresholds = [datetime(2024, 1, 8), datetime(2024, 1, 15), datetime(2024, 1, 22)]
    d = tempfile.mkdtemp(prefix="q97_")
    sig = F.md5(F.concat_ws("|", F.col("user_id"), F.col("props")))
    return run_streaming_dedup_ttl(
        spark, ev, thresholds, d, sig, ttl_s=6 * 86400, delay_s=900,
        ts_col="ts", id_col="event_id",
    ).orderBy("sig", "first_ts_us")


def q98_sequence_packing(spark, sf_dir):
    """GPT-style training-sequence packing manifest
    (operators/packing.py:pack_sequences): all documents concatenated
    in doc_id order (whitespace token counts), the token stream cut
    every 256 tokens, documents SPLIT across boundaries — the
    concat-and-chunk export step (vs q83's no-split shard planner).
    Global offsets come from the two-level distributed prefix sum;
    each doc explodes only to the sequences it touches. The oracle is
    the semantic one-window definition + generate_series expansion, so
    the decomposition and the split arithmetic are both value-gated.
    Integer-only arithmetic throughout (token counts, DIV boundaries)."""
    from outage_data_scraper_spark.functions import textkit
    from outage_data_scraper_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", textkit.token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(
        docs, "n_tokens", "doc_id", seq_len=256, chunk=64
    ).orderBy("seq_id")


def q99_paragraph_dedup_keep_first(spark, sf_dir):
    """CCNet-style corpus-wide KEEP-FIRST chunk dedup
    (dedup.chunk_dedup_keep_first): every repeated 4-token chunk (q49's
    unit standing in for CCNet's paragraph — the corpus has no
    newlines) keeps exactly ONE copy, the globally first occurrence by
    (doc_id, pos); all later occurrences are cut and survivors
    reassemble in order. Distinct from q49/C4 (removes ALL copies when
    df ≥ 5) and q87/ExactSubstr (maximal spans): this is the dedup
    that PRESERVES one canonical instance. clean_md5 gates the full
    reassembled text. Winner law = min packed doc_id*2^24+pos,
    identical integer expression in both engines."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.chunk_dedup_keep_first(docs, span_tokens=4)
        .select(
            "doc_id",
            "n_spans",
            "n_dropped",
            F.md5("clean_text").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def q100_redirect_resolution(spark, sf_dir):
    """Redirect-chain resolution (frontier/redirects.py:
    resolve_redirects): every URL follows its redirect chain to the
    terminal URL in O(log chain) POINTER-DOUBLING self-joins — at
    10^10 frontier scale a linear walk is ~15 sequential shuffles,
    doubling is 4 (localCheckpoint per round per the iterative-loop
    law; cycles / over-deep chains fail loud via the residual-domain
    assert). The canonical-URL step the seen-set and frontier key on.
    Edges are synthesized deterministically from doc_ids (src → src−1−
    (src%3) unless src%13==0): irregular chain lengths up to ~15 hops.
    The oracle walks the SAME edges with a recursive CTE — linear
    semantics vs logarithmic execution, value-gated."""
    from outage_data_scraper_spark.frontier.redirects import resolve_redirects

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") - 1 - (F.col("doc_id") % 3)).alias("dst"),
    ).filter((F.col("doc_id") % 13 != 0) & (F.col("dst") >= 0))
    resolved = resolve_redirects(edges, "src", "dst", max_hops=64)
    return (
        docs.join(resolved, docs["doc_id"] == resolved["node"], "left")
        .select(
            F.col("doc_id").cast("long").alias("node"),
            F.coalesce(F.col("terminal"), F.col("doc_id"))
            .cast("long")
            .alias("terminal"),
            F.coalesce(F.col("hops"), F.lit(0)).cast("long").alias("hops"),
        )
        .orderBy("node")
    )


def q101_crawl_trap_detection(spark, sf_dir):
    """Crawl-trap detection (frontier/traps.py): URLs collapse to
    TEMPLATES (digit runs → N, query values → V) and any
    (host, template) minting ≥ 60 distinct URLs is a trap — the
    frontier-hygiene law that keeps session-id mints and calendars
    from filling a 10^10-URL queue with one host's infinite space.
    URLs synthesize from events: click events mint one
    /click/session/<id>?uid=<u> URL each (unbounded shape — ~100
    distinct per host at sf0.01, trapped), every other type cycles
    through 50 bounded /page/<n> URLs (stays under threshold). The
    oracle re-derives the template from the URL STRING with the same
    two regexes, so the squashing law itself is value-gated. One
    map-side-combined shuffle on (host, template); enforcement
    (filter_trapped) is a broadcast anti-join on the shape table."""
    from outage_data_scraper_spark.frontier.traps import detect_traps

    ev = _t(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://h"),
        F.pmod(F.col("user_id"), F.lit(20)).cast("string"),
        F.lit(".synth.net/"),
        F.col("event_type"),
        F.lit("/"),
        F.when(
            F.col("event_type") == "click",
            F.concat(
                F.lit("session/"),
                F.col("event_id").cast("string"),
                F.lit("?uid="),
                F.col("user_id").cast("string"),
            ),
        ).otherwise(
            F.concat(F.lit("page/"), F.pmod(F.col("event_id"), F.lit(50)).cast("string"))
        ),
    )
    urls = ev.select(url.alias("url"))
    return (
        detect_traps(urls, "url", min_distinct=60)
        .select("host", "template", F.col("n_urls").cast("long").alias("n_urls"))
        .orderBy("host", "template")
    )


def q102_registered_domain_rollup(spark, sf_dir):
    """Registered-domain (eTLD+1) rollup (urlkit.registered_domain):
    politeness is per-HOST (one token bucket per authority) but crawl
    BUDGETS are per-REGISTRANT — without eTLD+1 keying, a wildcard
    subdomain mints a fresh budget per *.spam.co.uk host. The frozen
    two-level public-suffix mini-list is mirrored verbatim in the
    oracle; hosts synthesize from doc_ids across .co.uk/.com/.com.au/
    .net:port/.org.uk shapes so the 3-label, 2-label and port-strip
    branches all gate. Pure column algebra — one shuffle on the
    registered domain."""
    from outage_data_scraper_spark.functions.urlkit import registered_domain

    docs = _t(spark, sf_dir, "documents")
    suffix = F.element_at(
        F.array(
            F.lit(".shop.co.uk"),
            F.lit(".example.com"),
            F.lit(".mirror.com.au"),
            F.lit(".synth.net:8080"),
            F.lit(".blog.org.uk"),
        ),
        (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"),
    )
    host = F.concat(
        F.lit("h"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string"), suffix
    )
    return (
        docs.select(host.alias("host"))
        .groupBy(registered_domain(F.col("host")).alias("registered_domain"))
        .agg(
            F.count_distinct("host").cast("long").alias("n_hosts"),
            F.count(F.lit(1)).cast("long").alias("n_urls"),
        )
        .orderBy("registered_domain")
    )


def q103_training_sequences(spark, sf_dir):
    """The OTHER training-artifact composition (q88 packs survivors
    into no-split shards; this packs them into fixed-length SPLIT
    sequences — what a causal-LM loader actually reads): q51's
    cleaning pipeline picks survivors → q79's BPE encode prices each
    in tokens → q98's concat-and-chunk packs them into 512-token
    training sequences. One row per sequence with doc/token/boundary
    counts. The oracle composes the two gated oracles as subqueries
    feeding the gated packing law — every stage boundary of the
    corpus → sequences export is value-gated."""
    from outage_data_scraper_spark.operators.packing import pack_sequences

    surv = q51_clean_corpus_pipeline(spark, sf_dir).select("doc_id")
    stats = q79_bpe_encode_stats(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    sized = surv.join(stats, "doc_id")
    return pack_sequences(
        sized, "n_bpe_tokens", "doc_id", seq_len=512, chunk=64
    ).orderBy("seq_id")


def q104_domain_quota_allocation(spark, sf_dir):
    """Largest-remainder (Hamilton) quota apportionment
    (sampling.allocate_quotas): 'sample 137 docs proportional to
    source' as EXACT integer quotas — the derivation step that feeds
    q78's quota_sample its quota table (domain-mixture curation).
    base = (budget·n) DIV total, leftover units to the largest
    remainders (ties → lexically smallest group); Σ quota = budget by
    construction. All-integer on a non-negative domain, so DuckDB //
    mirrors Spark DIV exactly; the corpus collapses to one group-count
    relation before any window touches it."""
    from outage_data_scraper_spark.operators.sampling import allocate_quotas

    docs = _t(spark, sf_dir, "documents")
    return allocate_quotas(docs, "source", budget=137).orderBy("source")


def q105_snapshot_diff(spark, sf_dir):
    """Crawl snapshot diff (frontier/snapshot.py): two synthetic crawls
    of the same page space — old = even events sans user_id%11 pages,
    new = odd events sans user_id%13 pages — each reduced to one
    (page, signature) row where the signature is md5 over the SORTED
    DISTINCT event types seen (content that CAN coincide across crawls,
    so all four statuses occur). The diff itself is one full-outer
    sort-merge join + a status projection — the recrawl-scheduling
    input revisit.py consumes. Sig law identical both engines: sorted
    distinct strings joined by '|', md5'd."""
    from outage_data_scraper_spark.frontier.snapshot import snapshot_diff

    ev = _t(spark, sf_dir, "events")

    def snap(df):
        return df.groupBy(F.col("user_id").alias("page_key")).agg(
            F.md5(
                F.concat_ws(
                    "|", F.sort_array(F.collect_set("event_type"))
                )
            ).alias("sig")
        )

    old = snap(
        ev.filter((F.col("event_id") % 2 == 0) & (F.col("user_id") % 11 != 0))
    )
    new = snap(
        ev.filter((F.col("event_id") % 2 == 1) & (F.col("user_id") % 13 != 0))
    )
    return (
        snapshot_diff(old, new, "page_key", "sig")
        .select(
            F.col("page_key").cast("long").alias("page_key"),
            "status",
            "old_sig",
            "new_sig",
        )
        .orderBy("page_key")
    )


def q106_anchor_text_rollup(spark, sf_dir):
    """Anchor-text aggregation (graph.aggregate_anchor_text): the
    off-page description corpus — per target page, in-link/distinct-
    source/distinct-anchor counts and the most frequent anchor (ties →
    lexically smallest). Links synthesize deterministically from
    doc_ids (3 out-links per doc, dst = (3·id + 17k) mod 101, self-
    links dropped) with the anchor = the source's first two tokens, so
    popular targets accumulate competing anchors. One (dst, anchor)
    map-side-combined shuffle; top anchor via min(struct(−cnt, anchor))
    — no window. DuckDB 1-based [1:2] slice ≡ Spark slice(_, 1, 2)."""
    from outage_data_scraper_spark.operators.graph import aggregate_anchor_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    links = (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") * 3 + F.col("k") * 17, F.lit(101)).alias(
                "dst"
            ),
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ").alias(
                "anchor"
            ),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return (
        aggregate_anchor_text(links)
        .select(
            F.col("dst").cast("long").alias("dst"),
            "n_inlinks",
            "n_src",
            "n_anchors",
            "top_anchor",
            "top_anchor_count",
        )
        .orderBy("dst")
    )


def q107_perplexity_tertiles(spark, sf_dir):
    """CCNet's head/middle/tail split (Wenzek et al. 2020): every doc
    scored under a FROZEN English-trained bigram model (q91/q94's
    parquet-table broadcast-join path with the integer micro-nat sum
    exposed), per-doc score = sum_micro DIV n_bigrams (all-integer —
    no float ranking), tertile thresholds = the EXACT ceil(n/3)- and
    ceil(2n/3)-th order statistics via q82's two-bounded-pass
    machinery (no global sort), label = pure threshold projection.
    The bucket is CCNet's quality tier: 'head' docs feed training
    directly, 'tail' docs are dropped or re-filtered. Collects exactly
    two threshold values to the driver — everything else distributed."""
    import hashlib as _hl
    import tempfile

    from outage_data_scraper_spark.operators.lm import (
        score_bigram_lm_table,
        train_bigram_lm_table,
    )
    from outage_data_scraper_spark.operators.quantiles import exact_order_stats

    docs = _t(spark, sf_dir, "documents")
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_q107_{tag}")
    train_bigram_lm_table(docs.filter(F.col("lang") == "en"), path)
    scored = score_bigram_lm_table(docs, path, with_micro=True).select(
        "doc_id",
        F.expr("sum_micro_nll DIV n_bigrams").cast("long").alias("ppl_micro"),
    )
    n = scored.count()
    k1, k2 = (n + 2) // 3, (2 * n + 2) // 3
    vals = {
        int(r["rank"]): int(r["value"])
        for r in exact_order_stats(scored, "ppl_micro", [k1, k2]).collect()
    }
    t1, t2 = vals[k1], vals[k2]
    bucket = (
        F.when(F.col("ppl_micro") <= F.lit(t1), F.lit("head"))
        .when(F.col("ppl_micro") <= F.lit(t2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select("doc_id", "ppl_micro", bucket.alias("bucket")).orderBy(
        "doc_id"
    )


def _anchor_links(docs):
    """The shared deterministic link graph behind q106/q108: 3
    out-links per doc, dst = (3·id + 17k) mod 101, self-links dropped —
    docs are hubs, the 101 low-id pages are authorities."""
    return (
        docs.select(
            "doc_id",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") * 3 + F.col("k") * 17, F.lit(101)).alias(
                "dst"
            ),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def q108_hits(spark, sf_dir):
    """HITS hubs/authorities (graph.hits_micro) over the q106 link
    graph — PageRank's companion priority signal (authorities = fetch
    next, hubs = re-parse for links), 3 rounds, max-normalized to
    integer micro units each half-step so the fixpoint is bit-exact
    cross-engine (the oracle unrolls all 6 half-steps as chained CTEs,
    the q58 law). Per-round max is a one-row broadcast crossJoin —
    never a node-scale window."""
    from outage_data_scraper_spark.operators.graph import hits_micro

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    nodes = docs.select(F.col("doc_id").alias("node"))
    out = hits_micro(_anchor_links(docs), nodes, n_iter=3)
    return out.select(
        F.col("node").cast("long").alias("doc_id"),
        "hub_micro",
        "auth_micro",
    ).orderBy("doc_id")


def q109_triangle_counts(spark, sf_dir):
    """Per-node triangle counts (graph.triangle_count) — the local
    clustering signal that separates organic link neighborhoods
    (triangle-dense) from mint-style link farms (triangle-free stars).
    Edges synthesize deterministically from doc_ids (ring chords i→i+1,
    i→i+2 guarantee consecutive-triple triangles; a mod-101 long edge
    adds irregular ones). The operator orients each edge from the
    (degree, id)-lower endpoint so wedge fan-out is out-degree-capped
    (O(m^1.5) worst case — no celebrity blowup); the oracle counts the
    SAME orientation-independent triangle set via the plain a<b<c
    double-join."""
    from outage_data_scraper_spark.operators.graph import triangle_count

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(F.col("doc_id").alias("a"))
    edges = (
        base.select("a", (F.col("a") + 1).alias("b"))
        .unionAll(base.select("a", (F.col("a") + 2).alias("b")))
        .unionAll(
            base.select(
                "a", F.pmod(F.col("a") * 7 + 3, F.lit(101)).alias("b")
            )
        )
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    return (
        triangle_count(edges, nodes)
        .select(F.col("node").cast("long").alias("node"), "n_triangles")
        .orderBy("node")
    )


def q110_posting_size_plan(spark, sf_dir):
    """Inverted-index storage planner (index.posting_size_plan): per
    term, the posting-list byte cost under delta+LEB128-varint coding
    vs raw 8-byte doc ids — the sizing pass run BEFORE building a
    10^10-doc index (shard and replica budgets come from exactly this
    table). Integer-exact: bit lengths via length(bin(δ)) (both engines
    render minimal binary strings), ceil division as (len+6) DIV 7,
    first delta = doc_id + 1. Same q70 tokenization law."""
    from outage_data_scraper_spark.operators.index import posting_size_plan

    docs = _t(spark, sf_dir, "documents")
    return posting_size_plan(docs).orderBy("term")


def q111_streaming_cms(spark, sf_dir):
    """STREAMING Count-Min maintenance, VALUE-GATED
    (streaming/sketches.py): the corpus replays as 4 deterministic
    micro-batches (doc_id % 4); each batch folds to its own ≤ d·w-row
    partial sketch inside foreachBatch (batch-id-keyed overwrite →
    idempotent on retry), and the serving read merges partials with one
    groupBy sum. CMS merge is associative+commutative, so the streamed
    sketch is BIT-IDENTICAL to q81's batch sketch over the same tokens
    — the oracle is the batch cell law. No keyed state, no watermark:
    the sketch shape for a 100 TB/day stream. Tokens explode per doc
    BEFORE splitting so each batch carries whole documents."""
    import tempfile

    from outage_data_scraper_spark.functions import textkit
    from outage_data_scraper_spark.streaming.sketches import run_streaming_cms

    docs = _t(spark, sf_dir, "documents")
    toks = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        F.explode(textkit.tokens(textkit.normalized(F.col("text")))).alias(
            "term"
        ),
    )
    d = tempfile.mkdtemp(prefix="q111_")
    return (
        run_streaming_cms(spark, toks, 4, d, "term", "doc_id")
        .select(
            F.col("row").cast("long").alias("row"),
            F.col("bucket").cast("long").alias("bucket"),
            "cnt",
        )
        .orderBy("row", "bucket")
    )


def q112_domain_fair_wave(spark, sf_dir):
    """Domain-fair budgeted wave pop (frontier/priority.py:pop_wave
    ``domain_budget`` + sampling.allocate_quotas): the wave budget
    apportions across REGISTERED DOMAINS (eTLD+1) proportional to each
    domain's pending pool via Hamilton largest-remainder quotas, then
    each domain pops its top-quota rows by the crawl-ordering law
    (+url tiebreak) — a single mega-registrant can never eat a
    budgeted wave (vs q05's plain per-host top-k and the global
    wave_budget cut, where one domain's priority mass starves the
    rest). Frontier synthesizes from documents: 70% of URLs land on
    11 hosts of mega.com, the rest spread over three *.org.uk
    registrants (the two-level-suffix branch of registered_domain
    gates too). The oracle recomputes per-host top-k → Hamilton
    quotas → per-domain ranked cut, so the COMPOSED law is
    value-gated end to end. Scale shape: quotas are a
    domain-cardinality broadcast; the pool localCheckpoints once."""
    from outage_data_scraper_spark.frontier.priority import pop_wave

    docs = _t(spark, sf_dir, "documents")
    dom = F.when(
        F.col("doc_id") % 10 < 7, F.lit("mega.com")
    ).otherwise(
        F.concat(F.lit("site"), (F.col("doc_id") % 3).cast("string"), F.lit(".org.uk"))
    )
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 11).cast("string"), F.lit("."), dom
    )
    fr = docs.select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("doc_id")).alias("url"),
        host.alias("host"),
        (F.col("doc_id") % 4).cast("double").alias("priority"),
        F.lit(0).alias("depth"),
        (F.col("doc_id") % 7).cast("int").alias("event_seq"),
        F.col("doc_id").cast("int").alias("seed_seq"),
        F.lit(0).alias("child_seq"),
    )
    return (
        pop_wave(fr, per_host_k=5, num_parts=8, domain_budget=60)
        .select("url", "host")
        .orderBy("url")
    )


def q113_hop_distance(spark, sf_dir):
    """Multi-source BFS hop distance (graph.hop_distance): the
    LINK-graph crawl depth from the seed set — "crawl within k clicks
    of the seeds" scoping and the far-from-seeds spam signal. Edges
    synthesize as a binary tree rooted at 0 (doc DIV 2 → doc, spans
    every node in ≤ ~9 levels) plus mod-101 shortcut edges (cycles —
    the oracle's walk must be hop-bounded); seeds = {0, 300}. The
    engine runs delta-frontier level-synchronous BFS (each node joins
    the edge list exactly once across all rounds); the oracle is a
    hop-bounded recursive UNION walk + min — semantics vs execution,
    and BFS's canonical fixpoint makes the values engine-exact."""
    from outage_data_scraper_spark.operators.graph import hop_distance

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tree = docs.filter(F.col("doc_id") >= 1).select(
        F.expr("doc_id DIV 2").alias("src"), F.col("doc_id").alias("dst")
    )
    short = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % 101).alias("dst"),
    )
    seeds = spark.createDataFrame([(0,), (300,)], "node long")
    d = hop_distance(tree.unionByName(short), seeds, max_rounds=16)
    return (
        docs.join(d, docs["doc_id"] == d["node"], "left")
        .select(
            F.col("doc_id").cast("long").alias("node"),
            F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("dist"),
        )
        .orderBy("node")
    )


def q114_host_mirror_detection(spark, sf_dir):
    """Host-level mirror detection (frontier/mirrors.py, Bharat &
    Broder 1999): hosts whose page-signature sets overlap are aliases
    (CDNs, vanity domains, literal mirrors) — the frontier keeps one
    canonical host instead of re-crawling each. Pages synthesize onto
    40 hosts where adjacent pairs (m2k, m2k+1) mirror each other except
    host-specific pages ((r + doc_id) % 5 == 0 stays 'own'), plus a
    'common' boilerplate signature on EVERY host: df > max_df drops it
    from the pairs (the q86 skew law — no boilerplate hash fans
    out), but it still counts in each host's denominator set.
    Containment in integer basis points of the smaller set — no float.
    One distinct collapse, then shape.pair_mine on sig with each host's
    set size riding along (no join)."""
    from outage_data_scraper_spark.frontier.mirrors import detect_mirrors

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    host = F.concat(F.lit("m"), (F.col("doc_id") % 40).cast("string"))
    content = F.when(
        (F.expr("doc_id DIV 40") + F.col("doc_id")) % 5 == 0,
        F.concat(
            F.lit("own/"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("/"),
            F.expr("doc_id DIV 40").cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("mir/"),
            F.expr("(doc_id % 40) DIV 2").cast("string"),
            F.lit("/"),
            F.expr("doc_id DIV 40").cast("string"),
        )
    )
    pages = docs.select(host.alias("host"), F.md5(content).alias("sig")).unionByName(
        docs.select(host.alias("host"), F.md5(F.lit("common")).alias("sig"))
    )
    return detect_mirrors(pages, min_shared=3, max_df=2).orderBy(
        "host_a", "host_b"
    )


def q115_bm25_max_score(spark, sf_dir):
    """WAND / MaxScore upper-bound table (index.bm25_max_score_table,
    Broder et al. 2003): per vocabulary term, df and the maximum BM25
    contribution any single doc can earn (same integer micro-units as
    q71's scores) — the term-sized pruning structure a 10^10-doc top-k
    engine reads to skip whole posting lists. The contribution
    expression is bit-identical to q71's (same constants, same
    left-assoc shapes, same micro rounding), so the gated bound is a
    TRUE bound on every score q71 sums. One tf agg, one term-keyed df
    join reusing the agg partitioning, one map-side-combined max."""
    from outage_data_scraper_spark.operators.index import bm25_max_score_table

    docs = _t(spark, sf_dir, "documents")
    return bm25_max_score_table(docs, k1=1.2, b=0.75).orderBy("term")


def q116_language_balanced_mix(spark, sf_dir):
    """Language-balanced training-mix composition — the curation loop
    closed end to end: Hamilton quotas over languages
    (sampling.allocate_quotas, q104's gated law) → EXACT quota sampling
    (sampling.quota_sample, q78's deterministic k-smallest-hash law) →
    the per-language corpus card over exactly the sampled docs (q60's
    doc/token/char totals). This gates the stage BOUNDARIES of "take
    250 docs proportional by language and report the resulting mix" —
    quota derivation feeding selection feeding reporting. The quota
    dict crossing the driver is language-cardinality (the documented
    driver-scale class); sampling and the card are fully distributed."""
    from outage_data_scraper_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    quotas = {
        r["lang"]: int(r["quota"])
        for r in sampling.allocate_quotas(docs, "lang", budget=250).collect()
    }
    sampled = sampling.quota_sample(docs, "lang", quotas)
    return (
        sampled.select(
            "lang",
            textkit.token_count(F.col("text")).alias("nt"),
            F.length("text").cast("long").alias("nc"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum("nc").cast("long").alias("n_chars"),
        )
        .orderBy("lang")
    )


def q117_index_segment_merge(spark, sf_dir):
    """Incremental inverted-index maintenance
    (index.merge_inverted_index): the corpus splits into a BASE segment
    (doc_id % 3 != 0) and a DELTA segment (doc_id % 3 == 0 — id ranges
    INTERLEAVE, so the merge's numeric posting re-sort is load-bearing,
    not a trivial concat), each indexed independently with min_df=1;
    the merge adds df/total_tf, splices posting lists back into
    doc-ascending order, and applies min_df=2 POST-merge (a term at df
    1+1 across segments survives, exactly as a rebuild counts it). The
    oracle is q70's full-corpus build verbatim: merge(build(A),
    build(B)) ≡ build(A ∪ B) — the segment-merge law a continuous
    crawl's index refresh depends on, gated value-exact down to the
    posting strings."""
    from outage_data_scraper_spark.operators import index

    docs = _t(spark, sf_dir, "documents")
    base = index.build_inverted_index(docs.filter(F.col("doc_id") % 3 != 0))
    delta = index.build_inverted_index(docs.filter(F.col("doc_id") % 3 == 0))
    return index.merge_inverted_index(base, delta, min_df=2).orderBy("term")


def q118_rag_chunk_windows(spark, sf_dir):
    """Retrieval/RAG chunk export (packing.chunk_windows): WITHIN-doc
    overlapping windows — 64 tokens starting every 48 (16-token overlap
    preserves context across cuts), last window ragged, short docs emit
    one chunk, no chunk ever crosses a document (retrieval chunks quote
    one source) — the manifest a vector-store ingest reads, vs q98's
    cross-doc concat-and-chunk for causal-LM training. Pure projection
    + explode: zero shuffles, zero windows; all-integer fixed-stride
    law with the DIV kept on the non-negative domain."""
    from outage_data_scraper_spark.operators.packing import chunk_windows

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", textkit.token_count(F.col("text")).alias("n_tok")
    )
    return chunk_windows(
        sized, "n_tok", window_len=64, stride=48
    ).orderBy("doc_id", "chunk_id")


def q119_focused_crawl_priority(spark, sf_dir):
    """Focused-crawl steering (frontier/focus.py, Chakrabarti 1999 /
    shark-search): every candidate URL scored BEFORE fetch from its
    best in-link — inherited parent relevance decayed to 85% (integer
    basis points) plus a bonus per DISTINCT query term in the anchor
    text (a 'spark spark spark' anchor earns one mention). max, not
    sum: one strong recommendation beats many weak ones, and minted
    in-links can't inflate it. The output plugs into the frontier's
    priority column (the reprioritize_frontier wiring). Links are the
    q106 anchor graph; parent scores synthesize as (doc_id % 97)·10⁴
    micro. One edge pass: src join to node-sized scores, per-row anchor
    projection, map-side-combined per-dst max — no window."""
    from outage_data_scraper_spark.frontier.focus import focused_priority

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    links = (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") * 3 + F.col("k") * 17, F.lit(101)).alias(
                "dst"
            ),
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ").alias(
                "anchor"
            ),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    scores = docs.select(
        F.col("doc_id").alias("node"),
        ((F.col("doc_id") % 97) * 10000).cast("long").alias("score_micro"),
    )
    return (
        focused_priority(links, scores, ["spark", "window", "join"])
        .select(
            F.col("dst").cast("long").alias("dst"),
            "n_inlinks",
            "priority_micro",
        )
        .orderBy("dst")
    )


def q120_capture_index(spark, sf_dir):
    """CDX-style capture index (frontier/snapshot.py:capture_index):
    per URL over its WHOLE fetch history — captures, distinct digests,
    content transitions (the change-rate numerator q61's revisit
    scheduler estimates from), first/last epoch-µs, latest digest.
    Events stand in for the fetch log (url = user page, digest = md5
    of the event type, ts = capture time); equal-ts captures tie-break
    on the digest string in BOTH engines, and the latest digest is the
    max (ts, digest) struct, so every column is a pure function of the
    capture set. One URL-keyed shuffle; the lag window is bounded by
    per-URL capture counts."""
    from outage_data_scraper_spark.frontier.snapshot import capture_index

    ev = _t(spark, sf_dir, "events")
    caps = ev.select(
        F.concat(F.lit("https://p/"), F.col("user_id").cast("string")).alias(
            "url"
        ),
        "ts",
        F.md5(F.col("event_type")).alias("digest"),
    )
    return capture_index(caps).orderBy("url")


def q121_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility — the multilingual-equity
    report (a tokenizer that spends 2× the tokens per character on one
    language halves that language's effective context window): q79's
    gated BPE token pricing joined back to language, rolled up to
    (n_docs, n_chars, n_bpe_tokens, chars_per_token_centi) with the
    ratio in integer CENTI units (DIV of two gated sums — no float).
    One tiny-key aggregate riding q79's scoring scan."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    stats = q79_bpe_encode_stats(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    return (
        docs.join(stats, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_chars",
            "n_bpe_tokens",
            F.expr("(100 * n_chars) DIV n_bpe_tokens")
            .cast("long")
            .alias("chars_per_token_centi"),
        )
        .orderBy("lang")
    )


def q122_badwords_filter(spark, sf_dir):
    """C4 §2.2 blocklist page filter (operators/badwords.py): any page
    containing a blocklist word/PHRASE is dropped entirely — the first
    content filter a C4-style pipeline runs (distinct from q54's
    decontamination, which COUNTS eval-set overlap). Hits synthesize by
    appending a single-token and a 3-token phrase to deterministic doc
    subsets in BOTH engines; matching runs on the corpus-canonical
    token stream so case/punctuation can't split the law. The frozen
    list constant-folds into the plan (isin literals per phrase length
    — no join); per-doc hits are one map-side-combined rollup."""
    from outage_data_scraper_spark.operators.badwords import badwords_filter

    docs = _t(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 17 == 0, F.lit(" zorblax")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 23 == 0, F.lit(" grim flagged phrase")
        ).otherwise(F.lit("")),
    )
    planted = docs.select("doc_id", text2.alias("text"))
    return badwords_filter(
        planted, ("Zorblax", "grim flagged phrase")
    ).orderBy("doc_id")


def q123_cleaning_funnel(spark, sf_dir):
    """The cleaning-funnel audit report (the RefinedWeb-style stage
    table a pipeline ships with its corpus): per q51 stage, docs in /
    out / dropped — stage 1 the Gopher quality gate, stage 2 span-dedup
    rewriting + exact dedup on cleaned text (span dedup rewrites, the
    exact-dedup canonical pick drops). Three scalar counts cross the
    driver (the documented driver-scale class); the oracle recomputes
    both stage boundaries from the SAME gated CTEs q51/q96 share, so
    the funnel can't drift from the pipeline it audits."""
    from outage_data_scraper_spark.operators import sampling as _s  # noqa: F401

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "text", textkit.tokens(F.col("text")).alias("toks")
    )
    kept = toked.filter(
        textkit.gopher_keep(F.col("text"), F.col("toks"))
    ).select("doc_id", "text")
    cleaned = dedup.span_dedup(kept, span_tokens=4, df_min=5).select(
        "doc_id", F.md5("clean_text").alias("clean_sig")
    )
    canon = cleaned.groupBy("clean_sig").agg(
        F.min("doc_id").alias("canonical_id")
    )
    surv = cleaned.join(canon, "clean_sig").filter(
        F.col("doc_id") == F.col("canonical_id")
    )
    n0, n1, n2 = docs.count(), kept.count(), surv.count()
    return spark.createDataFrame(
        [
            (1, "gopher_quality", n0, n1, n0 - n1),
            (2, "span_dedup_exact_dedup", n1, n2, n1 - n2),
        ],
        "stage_id long, stage string, n_in long, n_out long, n_dropped long",
    ).orderBy("stage_id")


def q124_layout_pruning_report(spark, sf_dir):
    """Zone-map layout planner (plans/layout.py:pruning_report): before
    rewriting a 100 TB table, simulate row-group min/max pruning under
    each candidate sort key — 64 equal-width key slices, per-slice
    probe-column envelope, a slice scans iff its envelope intersects
    the predicate. Probe: a 3-day epoch-µs window over events.ts;
    candidates: event_id (time-correlated → prunes to a sliver) vs
    user_id (uncorrelated → scans everything). The report IS the
    'would this partition strategy hold at 1000×' answer, value-gated:
    integer DIV buckets, integer envelopes, basis-point scan fraction."""
    from outage_data_scraper_spark.plans.layout import pruning_report

    ev = _t(spark, sf_dir, "events")
    probe = F.unix_micros(F.col("ts").cast("timestamp"))
    return pruning_report(
        ev,
        ["event_id", "user_id"],
        probe,
        lo=1_704_844_800_000_000,  # 2024-01-10T00:00:00Z
        hi=1_705_104_000_000_000,  # 2024-01-13T00:00:00Z
    ).orderBy("sort_key")


def q125_robots_gate(spark, sf_dir):
    """The robots.txt gate law itself, value-gated (frontier/robots.py:
    robots_gate — previously pytest-only): per host one of
    allow / deny / disallow-prefix rules / ABSENT (default-allow), the
    per-URL decision = policy or prefix match on path_and_query, and
    Crawl-delay riding the same broadcast join onto every kept row.
    20 synthetic hosts cycle all four policy branches; paths cycle
    /private, /pub, /tmp/xy so both rule prefixes and the non-match
    gate. The oracle re-derives policy + prefix law + delay in SQL —
    the O35 semantics are now engine-exact, not just unit-tested."""
    from outage_data_scraper_spark.frontier.robots import robots_gate

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 20).cast("string"), F.lit(".robo.net")
    )
    path = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("/private/p"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("/pub/p"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.concat(F.lit("/tmp/xy"), F.col("doc_id").cast("string")))
    )
    cands = docs.select(
        F.concat(F.lit("https://"), host, path).alias("url"), host.alias("host")
    )
    robots = spark.createDataFrame(
        [
            (
                f"h{h}.robo.net",
                "allow" if h % 4 == 0 else "deny" if h % 4 == 1 else "rules",
                '["/private","/tmp/x"]' if h % 4 == 2 else "[]",
                float(h // 4 + 1) if h % 4 == 2 else None,
            )
            for h in range(20)
            if h % 4 != 3  # absent hosts exercise the default policy
        ],
        "host string, allow_all string, rules string, crawl_delay double",
    )
    return (
        robots_gate(cands, robots, default_allow=True)
        .select("url", "host", "crawl_delay")
        .orderBy("url")
    )


def q126_incremental_index_refresh(spark, sf_dir):
    """The INCREMENTAL crawl→index refresh loop, end to end: a recrawl
    changes some pages (doc_id%7 — text gains a suffix) and discovers
    new ones (doc_id%13 — absent from the old crawl); snapshot_diff
    (q105's law) derives WHICH keys changed/appeared from content
    signatures alone; remove_docs_from_index tombstone-compacts the
    changed docs out of the base segment; a delta segment indexes ONLY
    the affected docs' new text; merge_inverted_index splices it in
    with min_df applied post-merge. The oracle is the q70-style FULL
    REBUILD over the new corpus state — diff → remove → delta → merge
    must be indistinguishable from rebuilding, which is the refresh
    contract a continuous crawl's search index lives by. Only affected
    docs ever re-tokenize; the base corpus is never rescanned."""
    from outage_data_scraper_spark.frontier.snapshot import snapshot_diff
    from outage_data_scraper_spark.operators import index

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 13 != 0).select("doc_id", "text")
    new = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" updated fresh content")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    diff = snapshot_diff(
        old.select("doc_id", F.md5("text").alias("sig")),
        new.select("doc_id", F.md5("text").alias("sig")),
        "doc_id",
        "sig",
    )
    affected = diff.filter(F.col("status").isin("changed", "new")).select(
        F.col("doc_id")
    )
    changed = diff.filter(F.col("status") == "changed").select("doc_id")
    base = index.build_inverted_index(old)
    compacted = index.remove_docs_from_index(base, changed)
    delta = index.build_inverted_index(new.join(affected, "doc_id"))
    return index.merge_inverted_index(compacted, delta, min_df=2).orderBy(
        "term"
    )


def q64_boilerplate_dictionary(spark, sf_dir):
    """Corpus boilerplate dictionary (dedup.boilerplate_dictionary): the
    top-20 most widespread 4-token spans (q49's unit, ndocs ≥ 5) with
    occurrence and distinct-doc counts — the audit artifact a cleaning
    run ships before cutting. Deterministic top-k: (ndocs DESC,
    occurrences DESC, span_text) so ties break engine-identically."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.boilerplate_dictionary(docs, window_tokens=4, df_min=5, top_k=20)


def q58_pagerank(spark, sf_dir):
    """PageRank crawl-priority signal (operators/graph.py) over the
    symmetrized q19 near-dup edge list, 5 rounds, damping 0.85 —
    integer micro-unit ranks make the iterative fixpoint bit-exact
    cross-engine (the oracle unrolls the 5 rounds as chained CTEs)."""
    from outage_data_scraper_spark.operators.graph import pagerank_micro

    docs = _t(spark, sf_dir, "documents")
    # localCheckpoint before the symmetrizing union: both union branches
    # read `pairs`, and without it the expensive shingle-join pair-mining
    # subtree executes twice (same pattern connected_components uses)
    pairs = dedup.ngram_jaccard_pairs(
        docs, k_shingle=3, min_jaccard=0.12
    ).localCheckpoint(eager=True)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    nodes = docs.select(F.col("doc_id").alias("node"))
    out = pagerank_micro(edges, nodes, n_iter=5, damping=0.85)
    return out.select(F.col("node").alias("doc_id"), "rank_micro")


def q59_quality_filter_v2(spark, sf_dir):
    """Composed modern filter stack, second composition point (q51 is
    the dedup-centric one): Gopher rules ∧ within-doc repetition cap
    (dup_span_frac ≤ 0.05) ∧ corpus bigram-LM cap (avg_nll ≤ 3.43,
    the ~p80 of this corpus) — kept docs with both scalar signals.
    Thresholds compare the ROUNDED values both engines emit, so the
    kept set is engine-identical by construction."""
    from outage_data_scraper_spark.operators.lm import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", textkit.tokens(F.col("text")).alias("toks"))
    gop = toked.select(
        "doc_id", textkit.gopher_keep(F.col("text"), F.col("toks")).alias("keep")
    )
    # tokens hoisted into a prior projection — span_chunks' HOF lambda
    # re-evaluates a raw split-expression per element (textkit contract)
    rep = docs.select(
        "doc_id", F.split(textkit.normalized(F.col("text")), " ").alias("rtoks")
    ).select(
        "doc_id",
        F.round(textkit.dup_span_fraction(F.col("rtoks"), 4), 4).alias(
            "dup_span_frac"
        ),
    )
    lm = bigram_lm_scores(docs).select("doc_id", "avg_nll")
    return (
        gop.join(rep, "doc_id")
        .join(lm, "doc_id")
        .filter(
            F.col("keep")
            & (F.col("dup_span_frac") <= 0.05)
            & (F.col("avg_nll") <= 3.43)
        )
        .select("doc_id", "dup_span_frac", "avg_nll")
    )


def q60_corpus_card(spark, sf_dir):
    """Corpus card: per (split, lang) doc/token/char totals — the
    reporting table a training-mix decision is actually made from
    (split via the deterministic md5 hash split, q48's column). One
    scan, one partial-aggregated shuffle on the tiny (split, lang) key."""
    from outage_data_scraper_spark.operators.sampling import split_column

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            split_column(F.col("doc_id")).alias("split"),
            "lang",
            textkit.token_count(F.col("text")).alias("nt"),
            F.length("text").cast("long").alias("nc"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.sum("nc").alias("n_chars"),
        )
    )


def q61_revisit_schedule(spark, sf_dir):
    """Adaptive revisit scheduling (frontier/revisit.py): per entity,
    multiplicative backoff from the tail-unchanged streak of its fetch
    history — volatile entities revisit at the floor interval, stable
    ones back off exponentially (shift-based integer arithmetic, so the
    oracle mirrors it exactly). Events stand in for the fetch log:
    user_id = URL, event_type = content signature."""
    from outage_data_scraper_spark.frontier.revisit import revisit_schedule

    ev = _t(spark, sf_dir, "events")
    return revisit_schedule(
        ev, id_col="user_id", ts_col="ts", sig_col="event_type"
    )


def q28_multimodal_features(spark, sf_dir):
    """Multimodal feature extraction, VALUE-LEVEL check: image assets
    cycle raw P6 PPM, zlib-deflate PNG, baseline JPEG (444/422/420,
    with and without restart markers), PROGRESSIVE JPEG and GIF
    containers; audio assets cycle 16-bit PCM WAV and FLAC (fixed /
    LPC / mid-side / left-side — operators/flac.py, a from-scratch
    rice+LPC lossless codec), video MJPEG-in-AVI
    — ALL decoding FOR REAL (pure-numpy bitmap parse / stdlib-zlib
    inflate + unfilter / T.81 Huffman+IDCT incl. G.2 progressive /
    LZW / rice+LPC / RIFF chunk walk → mean-pooled pixel features,
    per-window RMS audio features, averaged per-frame video features;
    decoder= 'ppm-numpy' / 'png-zlib' / 'jpeg-numpy' / 'gif-lzw' /
    'webp-vp8l' / 'wav-pcm' / 'flac-rice' / 'mjpeg-avi' — zero fake
    rows). Each
    asset's feature vector is reduced to a canonical md5 signature AT
    THE SOURCE (multimodal.feature_signature) and compared against
    testoracle/q28_expected.parquet — signatures stamped by
    scripts/gen_q28_oracle.py from the same payload bytes through the
    same decode path, so any pixel/sample-level decode drift breaks the
    driver's value hash."""
    assets = multimodal.synth_assets(spark, 200)
    return multimodal.extract_feature_signatures(assets, dim=16)


def q55_video_frame_features(spark, sf_dir):
    """Per-frame video features (multimodal.extract_frame_features):
    each MJPEG-AVI container decoded ONCE, one row per sampled frame
    (stride 2) with the md5 signature of its mean-pooled pixels —
    frame_sample_plan's decode stage, end-to-end real. VALUE-gated
    against testoracle/q55_expected.parquet (scripts/gen_q55_oracle.py,
    same committed-oracle pattern as q28)."""
    assets = multimodal.synth_assets(spark, 200)
    return multimodal.extract_frame_features(assets, every=2, dim=8)


def q29_bloom_seen_filter(spark, sf_dir):
    """O32 Bloom fast path. No-false-negative sketch; at the registered
    (n, fpp=1e-4) point its false-positive set is empty for this input,
    so the exact anti-join oracle checks it value-exact."""
    from outage_data_scraper_spark.frontier.seen import bloom_from_df, filter_unseen_sketch

    fr = _frontier_from_documents(_t(spark, sf_dir, "documents"))
    seen = fr.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select("url")
    bloom = bloom_from_df(seen, fpp=1e-4)
    return filter_unseen_sketch(fr.select("url"), bloom)


def q40_cuckoo_seen_filter(spark, sf_dir):
    """O32 cuckoo fast path: same probe contract as the Bloom path (q29,
    incl. the value-exact exact-anti-join oracle at the registered
    fingerprint width) plus deletability for re-crawl scheduling (tests
    prove delete → refetch passes)."""
    from outage_data_scraper_spark.frontier.seen import cuckoo_from_df, filter_unseen_sketch

    fr = _frontier_from_documents(_t(spark, sf_dir, "documents"))
    seen = fr.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select("url")
    cf = cuckoo_from_df(seen)
    return filter_unseen_sketch(fr.select("url"), cf)


def q30_session_state_machine(spark, sf_dir):
    """O26 SIMPLIFIED threshold state machine via applyInPandas
    (sequential within group, parallel across groups): one session per
    active run plus a case-D split counter — deliberately collapsed so
    the semantics stay ANSI-SQL-expressible and the driver cross-checks
    the fold value-exact against a gaps-and-islands + lag oracle. The
    reference's FULL concurrent-outage merger is q35 (rows-only + pytest
    parity vs an independent port)."""
    from outage_data_scraper_spark.operators.sessionize import (
        sessionize_threshold_state_machine,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("UtilityName"),
        F.lit("tx").alias("StateName"),
        F.lit("c").alias("CountyName"),
        F.lit("ci").alias("CityName"),
        F.lit("0").alias("CountyFIPS"),
        F.lit(1000).cast("long").alias("CustomersTracked"),
        F.floor(F.col("value")).cast("long").alias("CustomersOut"),
        F.date_trunc("second", "ts").alias("RecordDateTime"),
    )
    out = sessionize_threshold_state_machine(ev, threshold=50, abs_diff=100)
    return out.select(
        F.col("UtilityName").alias("utility"),
        "session_id",
        F.date_format("session_start_ts", _TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end_ts", _TS_FMT_SPARK).alias("session_end"),
        F.round("duration_min", 2).alias("duration_min"),
        "n_obs",
        "peak_customers_out",
        "case_d_splits",
    )


def q35_threshold_merger(spark, sf_dir):
    """O26 FULL step1_threshold merger: concurrent tracked outages,
    relative threshold × row_customers_out OR'd with abs_diff, cases
    A–D incl. D-1 split / D-2 multi-close (step1_threshold.py:37–331).
    The fold keeps a mutable tracking list whose case-D index resolution
    is inherently sequential — not ANSI-SQL-expressible — so the oracle
    is the REFERENCE CODE ITSELF: scripts/gen_q35q37_oracle.py execs the
    whole step1_threshold.py over this exact input projection and stamps
    the expected rows into testoracle/q35_expected.parquet, which the
    driver's oracle SQL SELECTs — value-exact against ground truth
    (plus tests/test_threshold_merger.py port parity and the exec'd
    hypothesis fuzz in tests/test_reference_merger_oracle.py)."""
    from outage_data_scraper_spark.operators.sessionize import threshold_merger

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("UtilityName"),
        F.lit("tx").alias("StateName"),
        F.lit("c").alias("CountyName"),
        F.lit("ci").alias("CityName"),
        F.lit("0").alias("CountyFIPS"),
        F.lit(1000).cast("long").alias("CustomersTracked"),
        F.floor(F.col("value")).cast("long").alias("CustomersOut"),
        F.date_trunc("second", "ts").alias("RecordDateTime"),
    )
    out = threshold_merger(ev, threshold=0.1, abs_diff=5.0)
    return out.select(
        F.col("UtilityName").alias("utility"),
        F.date_format("start_time", _TS_FMT_SPARK).alias("start_ts"),
        F.date_format("end_time", _TS_FMT_SPARK).alias("end_ts"),
        F.round("customer_affected_mean", 4).alias("customer_affected_mean"),
        "duration_s",
    )


def q37_merger_monthly_property(spark, sf_dir):
    """step2_grower_property.py:70–105 over the q35 merger output: the
    per-utility monthly grower report (frequency, avg duration, avg mean,
    Σ mean×duration). Value-gated since r4: the expected rows are
    stamped by exec'ing the reference step1+step2 chain over the same
    input (scripts/gen_q35q37_oracle.py) — see also the end-to-end chain
    parity test in tests/test_reference_merger_oracle.py."""
    from outage_data_scraper_spark.operators.sessionize import (
        merger_monthly_property,
        threshold_merger,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("UtilityName"),
        F.lit("tx").alias("StateName"),
        F.lit("c").alias("CountyName"),
        F.lit("ci").alias("CityName"),
        F.lit("0").alias("CountyFIPS"),
        F.lit(1000).cast("long").alias("CustomersTracked"),
        F.floor(F.col("value")).cast("long").alias("CustomersOut"),
        F.date_trunc("second", "ts").alias("RecordDateTime"),
    )
    merged = threshold_merger(ev, threshold=0.1, abs_diff=5.0)
    rep = merger_monthly_property(merged, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    return rep.select(
        F.col("UtilityName").alias("utility"),
        "frequency",
        F.round("avg_duration_min", 4).alias("avg_duration_min"),
        F.round("avg_customer_affected_mean", 4).alias("avg_customer_affected_mean"),
        F.round("total_customer_affected_x_duration", 2).alias(
            "total_customer_affected_x_duration"
        ),
    )


def q38_threshold_merger_single_track(spark, sf_dir):
    """The threshold merger in its SQL-expressible regime: with abs_diff
    above every observed jump, |Δ| < abs_diff forces case A/C for every
    row, so exactly ONE outage is tracked per zero-separated segment and
    its running size equals the current reading (rco₁ = out₁, rco += Δ ⇒
    rco_t = out_t). The fold then reduces to: per segment, end = last ts,
    customer_affected_total = Σ (ts_t − ts_{t−1}) × out_{t−1} (the
    left-Riemann time-weighted integral), mean = total / duration,
    zero-duration segments dropped — all window algebra, giving the SAME
    operator code a value-exact DuckDB oracle over cases 0/A/C + dedup +
    segmentation + final close (the case B/D half is exercised by q35 and
    its pytest parity suite)."""
    from outage_data_scraper_spark.operators.sessionize import threshold_merger

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("UtilityName"),
        F.lit("tx").alias("StateName"),
        F.lit("c").alias("CountyName"),
        F.lit("ci").alias("CityName"),
        F.lit("0").alias("CountyFIPS"),
        F.lit(1000).cast("long").alias("CustomersTracked"),
        F.floor(F.col("value")).cast("long").alias("CustomersOut"),
        F.date_trunc("second", "ts").alias("RecordDateTime"),
    )
    out = threshold_merger(ev, threshold=0.1, abs_diff=1_000_000_000.0)
    return out.select(
        F.col("UtilityName").alias("utility"),
        F.date_format("start_time", _TS_FMT_SPARK).alias("start_ts"),
        F.date_format("end_time", _TS_FMT_SPARK).alias("end_ts"),
        F.round("customer_affected_mean", 4).alias("customer_affected_mean"),
        "duration_s",
    )


def q39_monthly_property_single_track(spark, sf_dir):
    """merger_monthly_property (step2_grower_property) composed over the
    single-tracked merger regime of q38 — the whole pipeline is window
    algebra there, so the monthly report aggregation itself gets a
    value-exact DuckDB oracle (q37 runs the same report over the full
    merger, rows-only)."""
    from outage_data_scraper_spark.operators.sessionize import (
        merger_monthly_property,
        threshold_merger,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("UtilityName"),
        F.lit("tx").alias("StateName"),
        F.lit("c").alias("CountyName"),
        F.lit("ci").alias("CityName"),
        F.lit("0").alias("CountyFIPS"),
        F.lit(1000).cast("long").alias("CustomersTracked"),
        F.floor(F.col("value")).cast("long").alias("CustomersOut"),
        F.date_trunc("second", "ts").alias("RecordDateTime"),
    )
    merged = threshold_merger(ev, threshold=0.1, abs_diff=1_000_000_000.0)
    rep = merger_monthly_property(merged, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    return rep.select(
        F.col("UtilityName").alias("utility"),
        "frequency",
        F.round("avg_duration_min", 4).alias("avg_duration_min"),
        F.round("avg_customer_affected_mean", 4).alias("avg_customer_affected_mean"),
        F.round("total_customer_affected_x_duration", 2).alias(
            "total_customer_affected_x_duration"
        ),
    )


def q41_gold_eastern(spark, sf_dir):
    """The FULL standardize_ga1tx8 gold pipeline with the reference's
    UTC→US/Eastern conversion (pipeline.py:108–111): metrics computed on
    UTC instants, output wall clocks rendered Eastern — including the
    zip→county broadcast-dim join. The month bucket proves day-boundary
    rows land in the reference's month (−5 h EST / −4 h EDT)."""
    obs = _events_obs(spark, sf_dir).withColumns(
        {
            "lat": (33.0 + (F.col("outage_id").cast("long") % 10) / 100.0),
            "lng": F.lit(-84.0),
            "zipcode": F.lpad(
                (F.col("outage_id").cast("long") % 50).cast("string"), 5, "0"
            ),
        }
    )
    dim = spark.range(50).select(
        F.lpad(F.col("id").cast("string"), 5, "0").alias("zipcode"),
        F.concat(F.lit("county_"), F.col("id")).alias("county"),
    )
    gold = standardize_ga1tx8(obs, dim, "Events EMC", "ga", tz="US/Eastern")
    return gold.select(
        "outage_id",
        "county",
        "zipcode",
        F.date_format("start_time", _TS_FMT_SPARK).alias("start_est"),
        F.date_format("end_time", _TS_FMT_SPARK).alias("end_est"),
        F.date_format("start_time", "yyyy-MM").alias("start_month_est"),
        F.round("duration", 2).alias("duration"),
    )


def q42_ganz_relative_threshold(spark, sf_dir):
    """O26 in its exact step1_ganz form: relative θ×CustomersTracked
    threshold with the >= crossing, terminating-row-inclusive events,
    unclosed runs dropped (ganz_events; reference-exec parity in
    tests/test_ganz_events.py). Integer-exact: floored readings ×
    whole-second gaps, one division at the end."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("UtilityName"),
        F.lit("tx").alias("StateName"),
        F.lit("c").alias("CountyName"),
        F.lit("ci").alias("CityName"),
        F.lit(1000).cast("long").alias("CustomersTracked"),
        F.floor("value").cast("long").alias("CustomersOut"),
        F.date_trunc("second", "ts").alias("RecordDateTime"),
    )
    events = ganz_events(ev, threshold=0.05)
    return events.select(
        F.col("UtilityName").alias("utility"),
        F.date_format("start_time", _TS_FMT_SPARK).alias("start_ts"),
        F.date_format("end_time", _TS_FMT_SPARK).alias("end_ts"),
        "duration_s",
        F.round("customer_affected_mean", 4).alias("customer_affected_mean"),
    )


def q43_gopher_quality_rules(spark, sf_dir):
    """Gopher-style document-quality filter (Rae et al. 2021 §A1.1 family,
    token-level form): per-doc rule metrics + the frozen keep verdict.
    Tokens are hoisted into one projection (HOF lambdas re-evaluate their
    subtrees per element); everything stays whole-stage codegen."""
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", textkit.tokens(F.col("text")).alias("toks"))
    # metrics computed ONCE (the HOF trees sit outside whole-stage
    # codegen's subexpression elimination; dominance is O(distinct×n));
    # both the rounded outputs and the keep verdict derive from them
    m = toked.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        textkit.mean_token_len(F.col("text")).alias("_mtl"),
        textkit.alpha_token_ratio(F.col("toks")).alias("_alpha"),
        textkit.stopword_ratio(F.col("text")).alias("_stop"),
        textkit.type_token_ratio(F.col("toks")).alias("_ttr"),
        textkit.top_token_ratio(F.col("toks")).alias("_top"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.round("_mtl", 4).alias("mean_tok_len"),
        F.round("_alpha", 4).alias("alpha_frac"),
        F.round("_stop", 4).alias("stop_ratio"),
        F.round("_ttr", 4).alias("ttr"),
        F.round("_top", 4).alias("top_tok_frac"),
        textkit.gopher_keep_from_metrics(
            F.col("n_tokens"), F.col("_mtl"), F.col("_alpha"),
            F.col("_stop"), F.col("_ttr"), F.col("_top"),
        ).alias("keep"),
    )


def q44_lang_id_multi(spark, sf_dir):
    """Multilingual heuristic language ID (de/en/es/fr function-word
    scoring, argmax over (score, lang) structs with engine-identical
    tie-breaks, 'und' below 12%). Tokens hoisted once; whole-stage
    codegen throughout."""
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        "text",
        F.transform(textkit.tokens(F.col("text")), lambda t: F.lower(t)).alias("toks"),
    )
    return toked.select(
        "doc_id",
        textkit.lang_id_multi(F.col("text"), toks=F.col("toks")).alias("lang"),
    )


def q33_session_properties(spark, sf_dir):
    """O28: per-key scalar report over sessions (step2_property.py:60–94).

    Arithmetic is integer-exact until the final division (durations in
    whole seconds, floored values) so the cross-engine value hash is
    immune to float summation order."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("second", "ts").alias("ts"),
        F.floor("value").cast("long").alias("val"),
    )
    s = sessionize_sql(ev, threshold=50, keys=["user_id"], ts_col="ts", val_col="val")
    s = s.withColumn(
        "duration_s",
        F.unix_timestamp("session_end_ts") - F.unix_timestamp("session_start_ts"),
    ).withColumn("cm_s", F.col("tw_numerator"))  # Σ gap·val, integer-exact
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("outage_frequency"),
        F.round(F.sum("duration_s") / F.count(F.lit(1)) / 60.0, 2).alias("avg_duration_min"),
        F.round(F.sum("peak_value") / F.count(F.lit(1)), 2).alias("avg_peak"),
        F.round(F.sum("cm_s") / 60.0, 2).alias("total_customer_minutes"),
    )


# -- driver contract -----------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q25_gold_outage_metrics(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top_revenue_orders": q02_top_revenue_orders,
        "q03_region_order_stats": q03_region_order_stats,
        "q04_latest_event_per_user": q04_latest_event_per_user,
        "q05_frontier_pop_topk": q05_frontier_pop_topk,
        "q06_seen_antijoin": q06_seen_antijoin,
        "q07_url_canonicalize": q07_url_canonicalize,
        "q08_host_stats": q08_host_stats,
        "q09_ts_range_filter": q09_ts_range_filter,
        "q10_contains_filter": q10_contains_filter,
        "q11_epoch_ms_cast": q11_epoch_ms_cast,
        "q12_event_type_rollup": q12_event_type_rollup,
        "q13_keyword_classify": q13_keyword_classify,
        "q14_token_count": q14_token_count,
        "q15_text_quality": q15_text_quality,
        "q16_lang_id": q16_lang_id,
        "q17_exact_dedup": q17_exact_dedup,
        "q18_fingerprint": q18_fingerprint,
        "q19_ngram_jaccard": q19_ngram_jaccard,
        "q20_minhash_lsh": q20_minhash_lsh,
        "q21_simhash": q21_simhash,
        "q22_cosine_topk": q22_cosine_topk,
        "q23_ann_lsh_topk": q23_ann_lsh_topk,
        "q24_embedding_near_dup": q24_embedding_near_dup,
        "q25_gold_outage_metrics": q25_gold_outage_metrics,
        "q26_sessionize": q26_sessionize,
        "q27_time_weighted_mean": q27_time_weighted_mean,
        "q28_multimodal_features": q28_multimodal_features,
        "q29_bloom_seen_filter": q29_bloom_seen_filter,
        "q30_session_state_machine": q30_session_state_machine,
        "q31_json_extract": q31_json_extract,
        "q32_token_explode": q32_token_explode,
        "q33_session_properties": q33_session_properties,
        "q34_ann_ivf_topk": q34_ann_ivf_topk,
        "q35_threshold_merger": q35_threshold_merger,
        "q36_embedding_near_dup_lsh": q36_embedding_near_dup_lsh,
        "q37_merger_monthly_property": q37_merger_monthly_property,
        "q38_threshold_merger_single_track": q38_threshold_merger_single_track,
        "q39_monthly_property_single_track": q39_monthly_property_single_track,
        "q40_cuckoo_seen_filter": q40_cuckoo_seen_filter,
        "q41_gold_eastern": q41_gold_eastern,
        "q42_ganz_relative_threshold": q42_ganz_relative_threshold,
        "q43_gopher_quality_rules": q43_gopher_quality_rules,
        "q44_lang_id_multi": q44_lang_id_multi,
        "q45_ann_lsh_index": q45_ann_lsh_index,
        "q46_ann_ivf_index": q46_ann_ivf_index,
        "q47_near_dup_clusters": q47_near_dup_clusters,
        "q48_hash_split": q48_hash_split,
        "q49_span_dedup": q49_span_dedup,
        "q50_tfidf_top_terms": q50_tfidf_top_terms,
        "q51_clean_corpus_pipeline": q51_clean_corpus_pipeline,
        "q52_repetition_metrics": q52_repetition_metrics,
        "q53_stratified_mix": q53_stratified_mix,
        "q54_decontaminate": q54_decontaminate,
        "q55_video_frame_features": q55_video_frame_features,
        "q56_warc_ingest": q56_warc_ingest,
        "q57_bigram_lm_score": q57_bigram_lm_score,
        "q58_pagerank": q58_pagerank,
        "q59_quality_filter_v2": q59_quality_filter_v2,
        "q60_corpus_card": q60_corpus_card,
        "q61_revisit_schedule": q61_revisit_schedule,
        "q62_bigram_lm_frozen": q62_bigram_lm_frozen,
        "q63_dup_substring_spans": q63_dup_substring_spans,
        "q64_boilerplate_dictionary": q64_boilerplate_dictionary,
        "q65_sq8_quantized_ann": q65_sq8_quantized_ann,
        "q66_pii_scrub_report": q66_pii_scrub_report,
        "q67_compression_signal": q67_compression_signal,
        "q68_bpe_train": q68_bpe_train,
        "q69_url_filter": q69_url_filter,
        "q70_inverted_index": q70_inverted_index,
        "q71_bm25_search": q71_bm25_search,
        "q72_perplexity_buckets": q72_perplexity_buckets,
        "q73_asof_join": q73_asof_join,
        "q74_range_join": q74_range_join,
        "q75_rollup_cascade": q75_rollup_cascade,
        "q76_hll_distinct": q76_hll_distinct,
        "q77_streaming_windowed_counts": q77_streaming_windowed_counts,
        "q78_quota_sample": q78_quota_sample,
        "q79_bpe_encode_stats": q79_bpe_encode_stats,
        "q80_ann_ivf_sq8_index": q80_ann_ivf_sq8_index,
        "q81_cms_heavy_hitters": q81_cms_heavy_hitters,
        "q82_exact_quantiles": q82_exact_quantiles,
        "q83_shard_plan": q83_shard_plan,
        "q84_stateful_sessions": q84_stateful_sessions,
        "q85_winnow_fingerprints": q85_winnow_fingerprints,
        "q86_fingerprint_overlap": q86_fingerprint_overlap,
        "q87_remove_dup_spans": q87_remove_dup_spans,
        "q88_training_export": q88_training_export,
        "q89_fingerprint_dedup_clusters": q89_fingerprint_dedup_clusters,
        "q90_clean_pipeline_exactsubstr": q90_clean_pipeline_exactsubstr,
        "q91_bigram_lm_model_table": q91_bigram_lm_model_table,
        "q92_kmeans_micro": q92_kmeans_micro,
        "q93_semdedup": q93_semdedup,
        "q94_dsir_weights": q94_dsir_weights,
        "q95_streaming_dedup": q95_streaming_dedup,
        "q96_nb_quality_classifier": q96_nb_quality_classifier,
        "q97_streaming_dedup_ttl": q97_streaming_dedup_ttl,
        "q98_sequence_packing": q98_sequence_packing,
        "q99_paragraph_dedup_keep_first": q99_paragraph_dedup_keep_first,
        "q100_redirect_resolution": q100_redirect_resolution,
        "q101_crawl_trap_detection": q101_crawl_trap_detection,
        "q102_registered_domain_rollup": q102_registered_domain_rollup,
        "q103_training_sequences": q103_training_sequences,
        "q104_domain_quota_allocation": q104_domain_quota_allocation,
        "q105_snapshot_diff": q105_snapshot_diff,
        "q106_anchor_text_rollup": q106_anchor_text_rollup,
        "q107_perplexity_tertiles": q107_perplexity_tertiles,
        "q108_hits": q108_hits,
        "q109_triangle_counts": q109_triangle_counts,
        "q110_posting_size_plan": q110_posting_size_plan,
        "q111_streaming_cms": q111_streaming_cms,
        "q112_domain_fair_wave": q112_domain_fair_wave,
        "q113_hop_distance": q113_hop_distance,
        "q114_host_mirror_detection": q114_host_mirror_detection,
        "q115_bm25_max_score": q115_bm25_max_score,
        "q116_language_balanced_mix": q116_language_balanced_mix,
        "q117_index_segment_merge": q117_index_segment_merge,
        "q118_rag_chunk_windows": q118_rag_chunk_windows,
        "q119_focused_crawl_priority": q119_focused_crawl_priority,
        "q120_capture_index": q120_capture_index,
        "q121_tokenizer_fertility": q121_tokenizer_fertility,
        "q122_badwords_filter": q122_badwords_filter,
        "q123_cleaning_funnel": q123_cleaning_funnel,
        "q124_layout_pruning_report": q124_layout_pruning_report,
        "q125_robots_gate": q125_robots_gate,
        "q126_incremental_index_refresh": q126_incremental_index_refresh,
    }


_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKS = f"regexp_split_to_array({_NORM}, ' ')"
_RAW_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_SW = "['the','and','of','to','a','in','is','that','it','for']"
_N_TOKS = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_RAW_TOKS}) END"
_SW_RATIO = (
    f"CASE WHEN {_N_TOKS} = 0 THEN 0.0 ELSE "
    f"len(list_filter(list_transform({_RAW_TOKS}, x -> lower(x)), x -> list_contains({_SW}, x)))"
    f"::DOUBLE / {_N_TOKS} END"
)
_PUNCT_RATIO = (
    "CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "(length(text) - length(regexp_replace(text, '[.,;:!?''\"()\\[\\]-]', '', 'g')))::DOUBLE"
    " / length(text) END"
)

# Gopher-kept CTE block (t, m, kept) shared by the q51 and q90 pipeline
# oracles — interpolated into both so the filter stage cannot drift.
_GOPHER_KEPT_CTES = f"""t AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0
                          THEN []::VARCHAR[] ELSE {_RAW_TOKS} END AS l
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                     len(l) AS n_tokens,
                     CASE WHEN len(l) = 0 THEN 0.0 ELSE
                       length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE / len(l) END AS mean_tok_len,
                     CASE WHEN len(l) = 0 THEN 0.0 ELSE
                       len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(l) END AS alpha_frac,
                     {_SW_RATIO} AS stop_ratio,
                     CASE WHEN len(l) = 0 THEN 0.0 ELSE
                       len(list_distinct(l))::DOUBLE / len(l) END AS ttr,
                     CASE WHEN len(l) = 0 THEN 0.0 ELSE
                       list_max(list_transform(list_distinct(l), d -> len(list_filter(l, x -> x = d))))::DOUBLE / len(l) END AS top_tok_frac
              FROM t
            ),
            kept AS (
              SELECT doc_id FROM m
              WHERE n_tokens BETWEEN 20 AND 10000
                AND mean_tok_len BETWEEN 3.0 AND 10.0
                AND alpha_frac >= 0.9 AND stop_ratio >= 0.02
                AND ttr >= 0.35 AND top_tok_frac <= 0.2
            )"""


# Twin-corpus CTE block (base, corpus) shared by the q36 and q93
# oracles — the deterministic near-dup plant (_twin_corpus's SQL twin;
# DuckDB lambda index i is 1-based, hence (i-1) % 2 for Spark's 0-based
# odd dims).
_TWIN_CORPUS_CTES = """base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            corpus AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(v, (x, i) -> (x * (1.0 + ((i - 1) % 2) * 0.02))::DOUBLE) AS v
              FROM base
            )"""


def _frozen_bigram_nll_sql(train_where: str, final_select: str | None = None) -> str:
    """avg_nll of EVERY document under an add-one bigram model trained
    on ``documents WHERE {train_where}`` — the frozen/table scoring law
    in SQL (unseen bigram/unigram counts 0 via LEFT JOIN + coalesce,
    per-bigram micro-nat rounding before the per-doc sum). NLL ≥ 0
    always: within one training corpus c12 ≤ c1 and V ≥ 1, so the
    smoothed ratio never exceeds 1 — the HALF_UP/round agreement holds.
    Shared by the q94 DSIR oracle (target + source models) and — via
    ``final_select`` swapping only the last per-doc SELECT over the
    shared ``scored`` CTE — the q107 integer ppl_micro tertiles."""
    if final_select is None:
        final_select = """
        SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               round(sum(m) / (count(*) * 1e6), 4) AS avg_nll
        FROM scored GROUP BY 1"""
    return f"""
        WITH ttoks AS (SELECT doc_id, {_TOKS} AS w FROM documents
                       WHERE {train_where}),
        uni AS (
          SELECT t, count(*) AS c1
          FROM (SELECT unnest(w) AS t FROM ttoks) GROUP BY 1
        ),
        v AS (SELECT count(*)::DOUBLE AS v FROM uni),
        stoks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        big AS (
          SELECT doc_id,
                 unnest([w[i+1] || ' ' || w[i+2]
                         for i in generate_series(0, len(w) - 2)]) AS bg
          FROM stoks WHERE len(w) >= 2
        ),
        bgc AS (
          SELECT bg, count(*) AS c12 FROM (
            SELECT unnest([w[i+1] || ' ' || w[i+2]
                           for i in generate_series(0, len(w) - 2)]) AS bg
            FROM ttoks WHERE len(w) >= 2
          ) GROUP BY 1
        ),
        scored AS (
          SELECT doc_id,
                 CAST(round(-ln((coalesce(c12, 0) + 1.0)
                                / (coalesce(c1, 0) + v.v)) * 1e6) AS BIGINT) AS m
          FROM big LEFT JOIN bgc USING (bg)
               LEFT JOIN uni ON uni.t = split_part(big.bg, ' ', 1), v
        )
        {final_select}
    """


def _split_case_sql(col: str) -> str:
    """The q48 deterministic split assignment as a SQL CASE — the same
    'split-1'-salted md5 law split_column computes, shared by the q51 /
    q90 pipeline oracles."""
    h = f"('0x' || substr(md5('split-1' || {col}::VARCHAR), 1, 15))::BIGINT % 100"
    return (
        f"CASE WHEN {h} < 80 THEN 'train' "
        f"WHEN {h} < 90 THEN 'val' ELSE 'test' END"
    )


# The q106/q108 link-graph law in SQL, shared so the two oracles cannot
# drift (3 out-links/doc, dst = (3·id + 17k) mod 101, no self-links;
# DuckDB [1:2] slice is 1-based inclusive ≡ Spark slice(_, 1, 2)).
_ANCHOR_LINKS_SQL = """
          SELECT d.doc_id AS src,
                 (d.doc_id * 3 + k.k * 17) % 101 AS dst,
                 array_to_string((string_split(d.text, ' '))[1:2], ' ')
                   AS anchor
          FROM documents d, (VALUES (1), (2), (3)) k(k)
          WHERE (d.doc_id * 3 + k.k * 17) % 101 != d.doc_id
"""


def _q108_oracle(n_iter: int = 3) -> str:
    """q108's oracle, assembled at call time: the integer-micro HITS
    fixpoint unrolled as chained CTEs — two per round (authority from
    the previous hub table, hub from the FRESH authority table),
    max-normalization as an integer (raw·unit) // max scalar-subquery
    (// floors ≡ Spark DIV on the non-negative domain)."""
    # every CTE in the chain is AS MATERIALIZED: each {tag}r is read
    # THREE times (max CTE + normalization) and each level feeds the
    # next — inlined, the plan doubles per half-step (2^6 re-evaluation
    # of the whole history; measured 437 s at sf0.01 vs <2 s
    # materialized).
    parts = []
    prev = "h0"
    for i in range(1, n_iter + 1):
        for tag, src_of, frm in (
            (f"a{i}", prev, ("dst", "src")),
            (f"h{i}", f"a{i}", ("src", "dst")),
        ):
            to_col, from_col = frm
            parts.append(f"""
            {tag}r AS MATERIALIZED (
              SELECT n.node, COALESCE(s.s, 0) AS raw
              FROM nodes n LEFT JOIN (
                SELECT e.{to_col} AS node, SUM(p.v) AS s
                FROM edges e JOIN {src_of} p ON p.node = e.{from_col}
                GROUP BY 1
              ) s ON s.node = n.node
            ),
            {tag}m AS MATERIALIZED (
              SELECT max(raw) AS mx FROM {tag}r
            ),
            {tag} AS MATERIALIZED (
              SELECT node,
                     CASE WHEN m.mx <= 0 THEN 0
                          ELSE (raw * 1000000) // m.mx
                     END::BIGINT AS v
              FROM {tag}r, {tag}m m
            )""")
        prev = f"h{i}"
    return f"""
        WITH links AS ({_ANCHOR_LINKS_SQL}),
        edges AS (SELECT src, dst FROM links),
        nodes AS (SELECT doc_id AS node FROM documents),
        h0 AS (SELECT node, 1000000::BIGINT AS v FROM nodes),
        {",".join(parts)}
        SELECT n.node::BIGINT AS doc_id, h.v AS hub_micro,
               a.v AS auth_micro
        FROM nodes n
        JOIN h{n_iter} h ON h.node = n.node
        JOIN a{n_iter} a ON a.node = n.node
        ORDER BY doc_id
    """


def _q58_oracle(n_iter: int = 5) -> str:
    """q58's oracle, assembled at call time: the integer-micro PageRank
    fixpoint unrolled as one chained CTE per round (possible ONLY
    because every intermediate rank is an integer — see
    operators/graph.py). Every damping factor is ::DOUBLE-cast: bare
    DuckDB literals type 0.85 * BIGINT as exact DECIMAL, which feeds a
    DIFFERENT double into round() than Spark's F.lit(0.85) — the casts
    make both engines round the identical IEEE value."""
    rounds = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        rounds.append(f"""
            r{i} AS (
              SELECT nd.node,
                     (SELECT CAST(round((1::DOUBLE - 0.85::DOUBLE) * 1000000 / n.n)
                                  AS BIGINT) FROM n)
                       + COALESCE(s.s, 0) AS r
              FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node,
                       SUM(CAST(round(0.85::DOUBLE * p.r / dg.d) AS BIGINT)) AS s
                FROM edges e
                JOIN {prev} p ON p.node = e.src
                JOIN deg dg ON dg.src = e.src
                GROUP BY 1
              ) s ON s.node = nd.node
            )""")
        prev = f"r{i}"
    return f"""
            WITH pairs AS (SELECT id_a, id_b FROM ({_Q19_PAIRS_SQL})),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL
              SELECT id_b, id_a FROM pairs
            ),
            deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
            nodes AS (SELECT doc_id AS node FROM documents),
            n AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            r0 AS (
              SELECT node, (SELECT CAST(round(1000000 / n.n) AS BIGINT) FROM n) AS r
              FROM nodes
            ),
            {",".join(rounds)}
            SELECT node AS doc_id, r AS rank_micro FROM {prev}
    """


def _q23_oracle() -> str:
    """q23's oracle, assembled at call time: the 12 seed-42 hyperplanes
    (dim 64, identical to similarity.make_hyperplanes) are embedded as
    full-precision literals, so DuckDB reproduces the exact bucket
    signature, multiprobe set, and rerank the Spark operator computes."""
    from outage_data_scraper_spark.operators.similarity import make_hyperplanes

    planes = make_hyperplanes(64, 12, 42)
    plit = "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
    ) + "]::DOUBLE[][]"
    return f"""
        WITH plist AS (SELECT {plit} AS ps),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        qsig AS (
          SELECT list_sum([CASE WHEN list_dot_product(q.qv, ps[i+1]) > 0
                                THEN (1::BIGINT << i) ELSE 0 END
                           for i in generate_series(0, 11)])::BIGINT AS s
          FROM plist, q
        ),
        probes AS (
          SELECT s AS b FROM qsig
          UNION ALL
          SELECT xor(s, (1::BIGINT << i)) FROM qsig, generate_series(0, 11) t(i)
        ),
        buckets AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_sum([CASE WHEN list_dot_product(embedding::DOUBLE[], ps[i+1]) > 0
                                THEN (1::BIGINT << i) ELSE 0 END
                           for i in generate_series(0, 11)])::BIGINT AS b
          FROM embeddings, plist
        )
        SELECT vec_id,
               round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cos_sim
        FROM buckets WHERE b IN (SELECT b FROM probes)
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


# q19's exact-Jaccard pair mining (unrounded), shared by the q19 oracle
# and q47's clustering closure. DF-cap mirror: shingles shared by >1000
# docs are dropped from the intersection (boilerplate carries no near-dup
# signal); set sizes stay uncapped, matching ngram_jaccard_pairs.
_Q19_PAIRS_SQL = f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([md5(array_to_string(w[i:i+2], ' '))
                                           for i in generate_series(1, len(w) - 2)])) AS s
              FROM toks WHERE len(w) >= 3
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            keep AS (SELECT s FROM sh GROUP BY 1 HAVING count(*) BETWEEN 2 AND 1000),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              JOIN keep k ON k.s = a.s
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   c::DOUBLE / (sa.n + sb.n - c) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
            WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.12
"""


def _merger_reference_oracles(oracle_dir: str) -> dict[str, str]:
    """q35/q37: the merger's case-D list mutation is not ANSI SQL, so the
    expected outputs are stamped by the REFERENCE code itself —
    scripts/gen_q35q37_oracle.py execs the whole step1_threshold.py (and
    step2 per utility) over the exact sf0.01 q35 input projection. The
    Spark merger is therefore value-gated against the reference
    implementation, not against an SQL re-statement.

    The stamped rows are a function of the sf0.01 events table, so the
    generator records that file's digest; if the driver ever regenerates
    testdata, the entries are omitted (falling back to the contract's
    rows-only check) instead of failing against stale expectations —
    rerun scripts/gen_q35q37_oracle.py to re-stamp."""
    import hashlib
    import json

    meta_path = os.path.join(oracle_dir, "q35_meta.json")
    events = "/root/testdata/sf0.01/events.parquet"
    try:
        with open(meta_path) as f:
            want = json.load(f)["events_md5"]
        with open(events, "rb") as f:
            got = hashlib.md5(f.read()).hexdigest()
        if got != want:
            return {}
    except Exception:
        # a missing/corrupt meta or unreadable events file must degrade
        # these two entries to rows-only, never take down oracle_sql()
        return {}
    return {
        "q35_threshold_merger": f"""
            SELECT utility, start_ts, end_ts, customer_affected_mean, duration_s
            FROM read_parquet('{os.path.join(oracle_dir, "q35_expected.parquet")}')
        """,
        "q37_merger_monthly_property": f"""
            SELECT utility, frequency, avg_duration_min,
                   avg_customer_affected_mean, total_customer_affected_x_duration
            FROM read_parquet('{os.path.join(oracle_dir, "q37_expected.parquet")}')
        """,
    }


def _docs_digest_oracle(
    oracle_dir: str, qtag: str, qname: str, select_sql: str
) -> dict[str, str]:
    """Committed-parquet oracle stamped by a Python twin over the sf0.01
    documents table (q67: zlib has no DuckDB analog; q68: iterative
    argmax is not ANSI SQL — scripts/gen_{qtag}_oracle.py).
    Input-digest-guarded like q35/q37: regenerated testdata degrades the
    entry to rows-only instead of failing against stale expectations."""
    import hashlib
    import json

    docs = "/root/testdata/sf0.01/documents.parquet"
    try:
        with open(os.path.join(oracle_dir, f"{qtag}_meta.json")) as f:
            want = json.load(f)["documents_md5"]
        with open(docs, "rb") as f:
            got = hashlib.md5(f.read()).hexdigest()
        if got != want:
            return {}
    except Exception:
        return {}
    expected = os.path.join(oracle_dir, f"{qtag}_expected.parquet")
    return {qname: select_sql.format(expected=expected)}


def oracle_sql() -> dict[str, str]:
    _oracle_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testoracle")
    _q28_expected = os.path.join(_oracle_dir, "q28_expected.parquet")
    oracles = {
        **_merger_reference_oracles(_oracle_dir),
        **_docs_digest_oracle(
            _oracle_dir,
            "q67",
            "q67_compression_signal",
            "SELECT doc_id, raw_len, comp_len, ratio_bp "
            "FROM read_parquet('{expected}') ORDER BY doc_id",
        ),
        **_docs_digest_oracle(
            _oracle_dir,
            "q68",
            "q68_bpe_train",
            'SELECT step, "left", "right", merged, pair_freq '
            "FROM read_parquet('{expected}') ORDER BY step",
        ),
        **_docs_digest_oracle(
            _oracle_dir,
            "q79",
            "q79_bpe_encode_stats",
            "SELECT doc_id, n_words, n_bpe_tokens "
            "FROM read_parquet('{expected}') ORDER BY doc_id",
        ),
        # the committed expected-signature parquet (see q28's docstring);
        # DuckDB reads it directly — the comparison is value-level because
        # the signatures digest the decoded pixel/sample features
        "q28_multimodal_features": f"""
            SELECT asset_id, kind, decoder, feat_sig
            FROM read_parquet('{_q28_expected}')
        """,
        # q55: committed per-frame signature parquet (see q55's
        # docstring) — value-level because the signatures digest the
        # decoded per-frame pixel features
        "q55_video_frame_features": f"""
            SELECT asset_id, frame_idx, n_frames, fps, frame_sig
            FROM read_parquet('{os.path.join(_oracle_dir, "q55_expected.parquet")}')
        """,
        # q56: committed pages parquet from the SAME corpus bytes via
        # the shared pure parser (see q56's docstring)
        "q56_warc_ingest": f"""
            SELECT url, warc_ts, http_status, mime, n_chars, text_sig, warc_name
            FROM read_parquet('{os.path.join(_oracle_dir, "q56_expected.parquet")}')
        """,
        "q58_pagerank": _q58_oracle(),
        "q23_ann_lsh_topk": _q23_oracle(),
        # q45 probes the PERSISTED index at q23's exact operating point
        # (n_planes=12, seed=42, multiprobe, k=10) — same oracle; q46 is
        # exhaustive-probe IVF like q34 ≡ brute-force top-k
        "q45_ann_lsh_index": _q23_oracle(),
        "q34_ann_ivf_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                         (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS cos_sim
            FROM embeddings ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        "q46_ann_ivf_index": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                         (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS cos_sim
            FROM embeddings ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 2) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*)::BIGINT AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY 1, 2
        """,
        "q02_top_revenue_orders": """
            SELECT o_orderkey, c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "q03_region_order_stats": """
            SELECT r_name, count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "q04_latest_event_per_user": """
            SELECT user_id, event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts, event_type
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events) WHERE rn = 1
        """,
        "q05_frontier_pop_topk": f"""
            SELECT host, url, priority, rn::INT AS pop_rank
            FROM (SELECT *, row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) rn
                  FROM ({_FRONTIER_SQL})) WHERE rn <= 3
        """,
        "q06_seen_antijoin": f"""
            WITH fr AS ({_FRONTIER_SQL})
            SELECT url FROM fr
            WHERE url NOT IN (SELECT url FROM fr WHERE doc_id % 7 = 0)
        """,
        # q29/q40: the Bloom and cuckoo seen-filters are no-false-negative
        # sketches; at the registered (n, fpp/fingerprint) operating point
        # their false-positive sets are EMPTY for this deterministic input
        # (verified: output ≡ the exact anti-join), so the exact oracle
        # checks them value-exact. A false positive at other scales would
        # surface as a hash mismatch — which is precisely the regression
        # signal we want from the gate.
        "q29_bloom_seen_filter": f"""
            WITH fr AS ({_FRONTIER_SQL})
            SELECT url FROM fr
            WHERE url NOT IN (SELECT url FROM fr WHERE doc_id % 7 = 0)
        """,
        "q40_cuckoo_seen_filter": f"""
            WITH fr AS ({_FRONTIER_SQL})
            SELECT url FROM fr
            WHERE url NOT IN (SELECT url FROM fr WHERE doc_id % 7 = 0)
        """,
        "q07_url_canonicalize": """
            SELECT doc_id,
                   'https://h' || (doc_id % 40) || '.synth.net/doc/' || doc_id AS canonical_url,
                   'h' || (doc_id % 40) || '.synth.net' AS host
            FROM documents
        """,
        "q08_host_stats": f"""
            SELECT host, count(*)::BIGINT AS n_urls, sum(priority)::BIGINT AS total_chars,
                   round(avg(priority), 2) AS avg_chars
            FROM ({_FRONTIER_SQL}) GROUP BY 1
        """,
        "q09_ts_range_filter": """
            SELECT event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
            FROM events
            WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
            GROUP BY 1
        """,
        "q10_contains_filter": """
            SELECT doc_id, n_chars, source FROM documents
            WHERE contains(text, 'spark') AND lang = 'en'
        """,
        "q11_epoch_ms_cast": """
            SELECT event_id,
                   1722470400000 + CAST(floor(value * 1000) AS BIGINT) * 60000 AS ms,
                   strftime(make_timestamp((1722470400000 + CAST(floor(value * 1000) AS BIGINT) * 60000) * 1000),
                            '%Y-%m-%d %H:%M:%S') AS derived_ts
            FROM events
        """,
        "q12_event_type_rollup": """
            SELECT event_type, round(sum(value), 2) AS sum_value, count(*)::BIGINT AS n
            FROM events GROUP BY 1
        """,
        "q13_keyword_classify": """
            SELECT doc_id,
                   CASE WHEN contains(text, 'join') THEN 'per_join'
                        WHEN contains(text, 'scan') THEN 'per_scan'
                        WHEN contains(text, 'sort') THEN 'per_sort'
                        ELSE 'per_other' END AS level
            FROM documents
        """,
        "q14_token_count": f"SELECT doc_id, ({_N_TOKS})::BIGINT AS n_tokens FROM documents",
        "q15_text_quality": f"""
            SELECT doc_id,
                   round(({_PUNCT_RATIO}), 6) AS punct_ratio,
                   round(({_SW_RATIO}), 6) AS stopword_ratio,
                   round((
                     (CASE WHEN {_N_TOKS} BETWEEN 20 AND 100000 THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN ({_SW_RATIO}) >= 0.05 THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN ({_PUNCT_RATIO}) <= 0.1 THEN 0.2 ELSE 0.0 END)
                   )::DOUBLE, 2) AS quality
            FROM documents
        """,
        "q16_lang_id": f"""
            SELECT doc_id,
                   CASE WHEN ({_SW_RATIO}) >= 0.12 THEN 'en' ELSE 'und' END AS lang_pred
            FROM documents
        """,
        "q17_exact_dedup": f"""
            WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents)
            SELECT fp.doc_id, c.canonical_id
            FROM fp JOIN (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY 1) c USING (fp)
        """,
        "q18_fingerprint": f"SELECT doc_id, md5({_NORM}) AS fp FROM documents",
        "q21_simhash": f"""
            WITH toks AS (
              -- empty/whitespace-only guard mirrors the engine's
              -- __n_toks >= 1 (DuckDB splits '' into [''], not [])
              SELECT doc_id, ({_TOKS})[1:512] AS tk FROM documents
              WHERE length(trim(text)) > 0
            ),
            hs AS (
              SELECT doc_id, len(tk) AS n,
                     list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h
              FROM toks
            ),
            sim AS (
              SELECT doc_id, n,
                     list_sum([CASE WHEN 2 * len(list_filter(h, x -> (x >> b) & 1 = 1)) > len(h)
                                    THEN (1::BIGINT << b) ELSE 0 END
                               for b in generate_series(0, 59)])::BIGINT AS sh
              FROM hs
            ),
            chunks AS (
              SELECT doc_id, sh, c AS chunk, (sh >> (c * 10)) & 1023 AS cv
              FROM sim, generate_series(0, 5) AS t(c)
              WHERE n >= 1
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sa, b.sh AS sb
              FROM chunks a JOIN chunks b
                ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
            FROM pairs WHERE bit_count(xor(sa, sb)) <= 5
        """,
        "q20_minhash_lsh": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
            sh AS (
              SELECT doc_id,
                     [array_to_string(w[i:i+2], ' ') for i in generate_series(1, len(w) - 2)] AS shingles
              FROM toks WHERE len(w) >= 3
            ),
            sig AS (
              SELECT doc_id,
                     [list_min(list_transform(shingles, s -> md5(i || ',' || s)))
                      for i in generate_series(0, 15)] AS sig
              FROM sh
            ),
            banded AS (
              SELECT doc_id, sig, b AS band,
                     md5(array_to_string(sig[b*4+1:b*4+4], ',')) AS bh
              FROM sig, generate_series(0, 3) AS t(b)
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.sig AS sa, b.sig AS sb
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   round(len([i for i in generate_series(1, 16) if sa[i] = sb[i]])::DOUBLE / 16, 6) AS est_jaccard
            FROM pairs
        """,
        "q19_ngram_jaccard": f"""
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM ({_Q19_PAIRS_SQL})
        """,
        # q47: transitive closure of q19's edge list via recursive CTE —
        # min reachable id per node = the cluster's canonical doc;
        # edge-less documents are their own singleton component
        "q47_near_dup_clusters": f"""
            WITH RECURSIVE pairs AS (
              SELECT id_a, id_b FROM ({_Q19_PAIRS_SQL})
            ),
            bi AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(src, dst) AS (
              SELECT src, dst FROM bi
              UNION
              SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src
            ),
            comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY 1)
            SELECT d.doc_id,
                   CAST(COALESCE(least(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS component
            FROM documents d LEFT JOIN comp c USING (doc_id)
        """,
        # q49: chunk → span-DF count → cut spans in ≥5 docs → ordered
        # reassembly; clean_sig digests the reassembled text so the value
        # hash covers the full reconstruction, not just counts
        "q49_span_dedup": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
            spans AS (
              SELECT doc_id,
                     unnest([{{'pos': i, 'txt': array_to_string(w[i*4+1 : i*4+4], ' ')}}
                             for i in generate_series(0, CAST(ceil(len(w)/4.0) AS INT) - 1)]) AS s
              FROM toks WHERE len(w) > 0
            ),
            flat AS (SELECT doc_id, s.pos AS pos, s.txt AS span_text FROM spans),
            counts AS (SELECT span_text, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1)
            SELECT f.doc_id,
                   count(*)::BIGINT AS n_spans,
                   sum(CASE WHEN c.df >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_removed,
                   md5(coalesce(string_agg(CASE WHEN c.df < 5 THEN f.span_text END,
                                           ' ' ORDER BY f.pos), '')) AS clean_sig
            FROM flat f JOIN counts c USING (span_text)
            GROUP BY 1
        """,
        # q50: rank on the ROUNDED tf-idf (+ term tiebreak) in BOTH
        # engines — selection among near-ties is then identical even if
        # ln() differs by an ulp
        "q50_tfidf_top_terms": f"""
            WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
            df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            scored AS (
              SELECT doc_id, term, tf, df, round(tf * ln(n.n / df), 6) AS tfidf
              FROM tf JOIN df USING (term), n
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term) AS rnk
              FROM scored
            )
            SELECT doc_id, term, tf, df, tfidf, rnk::INT AS rank
            FROM ranked WHERE rnk <= 5
        """,
        # q51: the full cleaning composition — gopher keep → span dedup
        # over survivors → exact dedup on cleaned text → hash split
        "q51_clean_corpus_pipeline": f"""
            WITH {_GOPHER_KEPT_CTES},
            toks AS (
              SELECT doc_id, {_TOKS} AS w
              FROM documents JOIN kept USING (doc_id)
            ),
            spans AS (
              SELECT doc_id,
                     unnest([{{'pos': i, 'txt': array_to_string(w[i*4+1 : i*4+4], ' ')}}
                             for i in generate_series(0, CAST(ceil(len(w)/4.0) AS INT) - 1)]) AS s
              FROM toks WHERE len(w) > 0
            ),
            flat AS (SELECT doc_id, s.pos AS pos, s.txt AS span_text FROM spans),
            counts AS (SELECT span_text, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1),
            clean AS (
              SELECT f.doc_id,
                     md5(coalesce(string_agg(CASE WHEN c.df < 5 THEN f.span_text END,
                                             ' ' ORDER BY f.pos), '')) AS clean_sig
              FROM flat f JOIN counts c USING (span_text)
              GROUP BY 1
            ),
            canon AS (SELECT clean_sig, min(doc_id) AS canonical_id FROM clean GROUP BY 1)
            SELECT c.doc_id,
                   {_split_case_sql("c.doc_id")} AS split,
                   c.clean_sig
            FROM clean c JOIN canon USING (clean_sig)
            WHERE c.doc_id = canon.canonical_id
        """,
        # q52: within-document repetition — same 4-token span unit as
        # q49 (DuckDB w[a:b] 1-based inclusive == Spark slice(arr,
        # start, len) for fixed windows); dup fraction = 1 - distinct/
        # total, identical double arithmetic both engines before round
        "q52_repetition_metrics": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
            spans AS (
              SELECT doc_id,
                     CASE WHEN len(w) < 1 THEN []::VARCHAR[]
                          ELSE [array_to_string(w[i*4+1 : i*4+4], ' ')
                                for i in generate_series(0, CAST(ceil(len(w)/4.0) AS INT) - 1)]
                     END AS s
              FROM toks
            )
            SELECT doc_id,
                   len(s)::BIGINT AS n_spans,
                   len(list_distinct(s))::BIGINT AS n_unique_spans,
                   round(CASE WHEN len(s) < 1 THEN 0.0
                              ELSE 1.0 - len(list_distinct(s))::DOUBLE / len(s)
                         END, 4) AS dup_span_frac
            FROM spans
        """,
        # q53: keep iff md5-uniform < per-stratum rate; the FILTER uses
        # the unrounded double (identical IEEE arithmetic both engines),
        # only the OUTPUT column rounds
        "q53_stratified_mix": """
            WITH u AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5('mix-1' || doc_id::VARCHAR), 1, 15))::BIGINT
                       / 1152921504606846976.0 AS uu
              FROM documents
            )
            SELECT doc_id, lang, round(uu, 6) AS mix_u
            FROM u
            WHERE uu < CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 1.0
                                 WHEN 'es' THEN 1.0 WHEN 'de' THEN 1.0
                                 WHEN 'zh' THEN 0.25 ELSE 0.0 END
        """,
        # q54: same shingle construction as q19/q49 (full k-windows of
        # the normalized tokens); hits counted per instance AND distinct
        "q54_decontaminate": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
            sh AS (
              SELECT doc_id,
                     unnest([array_to_string(w[i+1 : i+5], ' ')
                             for i in generate_series(0, len(w) - 5)]) AS s
              FROM toks WHERE len(w) >= 5
            ),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 25)
            SELECT doc_id,
                   count(*)::BIGINT AS n_hits,
                   count(DISTINCT s)::BIGINT AS n_shingles
            FROM sh
            WHERE doc_id >= 25 AND s IN (SELECT s FROM bench)
            GROUP BY 1
        """,
        # q57: per-bigram NLL rounded to integer micro-nats BEFORE the
        # per-doc sum — integer aggregation is immune to float sum
        # order; ln matches bit-for-bit (q50 precedent)
        "q57_bigram_lm_score": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
            uni AS (
              SELECT t, count(*) AS c1
              FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1
            ),
            v AS (SELECT count(*)::DOUBLE AS v FROM uni),
            big AS (
              SELECT doc_id,
                     unnest([w[i+1] || ' ' || w[i+2]
                             for i in generate_series(0, len(w) - 2)]) AS bg
              FROM toks WHERE len(w) >= 2
            ),
            bgc AS (SELECT bg, count(*) AS c12 FROM big GROUP BY 1),
            scored AS (
              SELECT doc_id,
                     CAST(round(-ln((c12 + 1.0) / (c1 + v.v)) * 1e6) AS BIGINT) AS m
              FROM big JOIN bgc USING (bg)
                   JOIN uni ON uni.t = split_part(big.bg, ' ', 1), v
            )
            SELECT doc_id,
                   count(*)::BIGINT AS n_bigrams,
                   round(sum(m) / (count(*) * 1e6), 4) AS avg_nll
            FROM scored GROUP BY 1
        """,
        # q60: split via q48's md5 arithmetic; token counts via q14's
        # _N_TOKS — integer sums, immune to aggregation order
        "q60_corpus_card": f"""
            SELECT CASE WHEN ('0x' || substr(md5('split-1' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 80 THEN 'train'
                        WHEN ('0x' || substr(md5('split-1' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   lang,
                   count(*)::BIGINT AS n_docs,
                   sum(({_N_TOKS})::BIGINT)::BIGINT AS n_tokens,
                   sum(length(text))::BIGINT AS n_chars
            FROM documents
            GROUP BY 1, 2
        """,
        # q61: tail-unchanged streak → shift-based backoff; every value
        # integer (BIGINT shift, epoch seconds) so the gate is exact
        "q61_revisit_schedule": """
            WITH marked AS (
              SELECT user_id AS entity, ts,
                     (lag(event_type) OVER w IS NULL
                      OR event_type <> lag(event_type) OVER w) AS changed
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
            ),
            lc AS (
              SELECT *, max(CASE WHEN changed THEN ts END)
                          OVER (PARTITION BY entity) AS last_change_ts
              FROM marked
            ),
            agg AS (
              SELECT entity, count(*)::BIGINT AS n_fetches, max(ts) AS last_ts,
                     sum(CASE WHEN ts > last_change_ts THEN 1 ELSE 0 END)::BIGINT AS tail_streak
              FROM lc GROUP BY 1
            ),
            iv AS (
              SELECT *, CASE WHEN tail_streak = 0 THEN 3600
                             ELSE least(greatest(
                                    86400::BIGINT << least(tail_streak - 1, 20)::INT,
                                    3600), 2592000) END AS next_interval_s
              FROM agg
            )
            SELECT entity, n_fetches, tail_streak,
                   next_interval_s::BIGINT AS next_interval_s,
                   (epoch(last_ts)::BIGINT + next_interval_s)::BIGINT AS next_fetch_epoch
            FROM iv
        """,
        # q48: exact mirror of sampling.hash_bucket / split_column
        # (md5 → top-15-hex BIGINT → mod 100 → cumulative thresholds)
        "q48_hash_split": """
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5('split-1' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 80 THEN 'train'
                        WHEN ('0x' || substr(md5('split-1' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "q22_cosine_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                         (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
            FROM embeddings ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        "q36_embedding_near_dup_lsh": f"""
            WITH {_TWIN_CORPUS_CTES},
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(a.v, b.v), 6) AS c
              FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(c, 3) AS cos_sim FROM pairs WHERE c >= 0.9
        """,
        # plain string (not an f-string: the struct literals use braces);
        # the token expression is inlined via concatenation below
        "q44_lang_id_multi": """
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE list_transform(""" + _RAW_TOKS + """, x -> lower(x)) END AS tl
              FROM documents
            ),
            scored AS (
              SELECT doc_id,
                     list_max([{'score': CASE WHEN len(tl) = 0 THEN 0.0 ELSE len(list_filter(tl, x -> list_contains(['der', 'die', 'und', 'den', 'von', 'zu', 'das', 'mit', 'sich', 'ist'], x)))::DOUBLE / len(tl) END, 'lang': 'de'},
                     {'score': CASE WHEN len(tl) = 0 THEN 0.0 ELSE len(list_filter(tl, x -> list_contains(['the', 'and', 'of', 'to', 'a', 'in', 'is', 'that', 'it', 'for'], x)))::DOUBLE / len(tl) END, 'lang': 'en'},
                     {'score': CASE WHEN len(tl) = 0 THEN 0.0 ELSE len(list_filter(tl, x -> list_contains(['el', 'la', 'de', 'que', 'y', 'en', 'los', 'se', 'del', 'las'], x)))::DOUBLE / len(tl) END, 'lang': 'es'},
                     {'score': CASE WHEN len(tl) = 0 THEN 0.0 ELSE len(list_filter(tl, x -> list_contains(['le', 'la', 'de', 'et', 'les', 'des', 'en', 'un', 'une', 'est'], x)))::DOUBLE / len(tl) END, 'lang': 'fr'}]) AS best
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN best.score >= 0.12 THEN best.lang ELSE 'und' END AS lang
            FROM scored
        """,
        "q43_gopher_quality_rules": f"""
            WITH t AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0
                          THEN []::VARCHAR[] ELSE {_RAW_TOKS} END AS l
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                     len(l) AS n_tokens,
                     CASE WHEN len(l) = 0 THEN 0.0 ELSE
                       length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE / len(l) END AS mean_tok_len,
                     CASE WHEN len(l) = 0 THEN 0.0 ELSE
                       len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(l) END AS alpha_frac,
                     {_SW_RATIO} AS stop_ratio,
                     CASE WHEN len(l) = 0 THEN 0.0 ELSE
                       len(list_distinct(l))::DOUBLE / len(l) END AS ttr,
                     CASE WHEN len(l) = 0 THEN 0.0 ELSE
                       list_max(list_transform(list_distinct(l), d -> len(list_filter(l, x -> x = d))))::DOUBLE / len(l) END AS top_tok_frac
              FROM t
            )
            SELECT doc_id, n_tokens::BIGINT AS n_tokens,
                   round(mean_tok_len, 4) AS mean_tok_len,
                   round(alpha_frac, 4) AS alpha_frac,
                   round(stop_ratio, 4) AS stop_ratio,
                   round(ttr, 4) AS ttr,
                   round(top_tok_frac, 4) AS top_tok_frac,
                   (n_tokens BETWEEN 20 AND 10000
                    AND mean_tok_len BETWEEN 3.0 AND 10.0
                    AND alpha_frac >= 0.9
                    AND stop_ratio >= 0.02
                    AND ttr >= 0.35
                    AND top_tok_frac <= 0.2) AS keep
            FROM m
        """,
        "q24_embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.3
        """,
        "q25_gold_outage_metrics": f"""
            WITH obs AS ({_EVENTS_OBS_SQL}),
            enr AS (
              SELECT *,
                     first_value(customer_affected) OVER w AS first_ca,
                     last_value(customer_affected) OVER w AS last_ca,
                     first_value(timestamp) OVER w AS first_ts,
                     first_value(start_time) OVER w AS first_st,
                     max(timestamp) OVER w AS end_time,
                     last_value(start_time) OVER w AS last_st
              FROM obs
              WINDOW w AS (PARTITION BY outage_id ORDER BY timestamp
                           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ),
            m AS (
              SELECT outage_id, max(end_time) AS end_time, max(last_st) AS start_time,
                     sum(customer_affected) AS sum_ca, avg(customer_affected) AS customer_affected_mean,
                     max(first_ca) AS first_ca, max(last_ca) AS last_ca,
                     max(first_ts) AS first_ts, max(first_st) AS first_st
              FROM enr GROUP BY 1
            ),
            metrics AS (
              SELECT outage_id, end_time AS timestamp, start_time, end_time,
                     (epoch(end_time) - epoch(start_time)) / 60.0 AS duration,
                     customer_affected_mean,
                     15.0 * (sum_ca - first_ca)
                       + (epoch(first_ts) - epoch(first_st)) / 60.0 * first_ca AS tcot,
                     last_ca
              FROM m
            )
            SELECT metrics.outage_id,
                   strftime(metrics.start_time, '%Y-%m-%d %H:%M:%S') AS start_ts,
                   strftime(metrics.end_time, '%Y-%m-%d %H:%M:%S') AS end_ts,
                   round(duration, 2) AS duration,
                   round(duration + 15.0, 2) AS duration_max,
                   round(duration + 7.5, 2) AS duration_mean,
                   round(customer_affected_mean, 2) AS customer_affected_mean,
                   round(tcot, 2) AS total_customer_outage_time,
                   round(tcot + 15.0 * last_ca, 2) AS total_customer_outage_time_max,
                   round(tcot + 7.5 * last_ca, 2) AS total_customer_outage_time_mean,
                   obs.customer_affected AS customer_affected_at_end
            FROM metrics JOIN obs
              ON metrics.outage_id = obs.outage_id AND metrics.timestamp = obs.timestamp
        """,
        "q26_sessionize": """
            WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts, value FROM events),
            marked AS (
              SELECT *, (value > 50)::INT AS is_active,
                     coalesce(lag((value > 50)::INT) OVER (PARTITION BY user_id ORDER BY ts), 0) AS prev_active
              FROM ev
            ),
            sess AS (
              SELECT *, sum(CASE WHEN is_active = 1 AND prev_active = 0 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts) AS session_id
              FROM marked
            ),
            act AS (SELECT * FROM sess WHERE is_active = 1),
            gaps AS (
              SELECT *, coalesce(epoch(lead(ts) OVER (PARTITION BY user_id, session_id ORDER BY ts))
                                  - epoch(ts), 0) AS gap_s
              FROM act
            )
            SELECT user_id, session_id::BIGINT AS session_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   round((epoch(max(ts)) - epoch(min(ts))) / 60.0, 2) AS duration_min,
                   count(*)::BIGINT AS n_obs,
                   round(max(value), 2) AS peak_value,
                   round(sum(gap_s * value) / (CASE WHEN sum(gap_s) > 0 THEN sum(gap_s) END), 2) AS tw_mean_value
            FROM gaps GROUP BY user_id, session_id
        """,
        "q30_session_state_machine": """
            WITH ev AS (
              SELECT user_id::VARCHAR AS utility, date_trunc('second', ts) AS ts,
                     CAST(floor(value) AS BIGINT) AS out
              FROM events
            ),
            marked AS (
              SELECT *, (out > 50)::INT AS is_active,
                     coalesce(lag((out > 50)::INT) OVER (PARTITION BY utility ORDER BY ts), 0) AS prev_active,
                     lag(out) OVER (PARTITION BY utility ORDER BY ts) AS prev_out
              FROM ev
            ),
            sess AS (
              SELECT *, sum(CASE WHEN is_active = 1 AND prev_active = 0 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY utility ORDER BY ts) AS session_id
              FROM marked
            ),
            act AS (
              SELECT *, row_number() OVER (PARTITION BY utility, session_id ORDER BY ts) AS rn
              FROM sess WHERE is_active = 1
            )
            SELECT utility, session_id::INT AS session_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   round((epoch(max(ts)) - epoch(min(ts))) / 60.0, 2) AS duration_min,
                   count(*)::BIGINT AS n_obs,
                   max(out)::BIGINT AS peak_customers_out,
                   sum(CASE WHEN rn > 1 AND abs(out - prev_out) > 100 THEN 1 ELSE 0 END)::INT AS case_d_splits
            FROM act GROUP BY utility, session_id
        """,
        "q33_session_properties": """
            WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts,
                               CAST(floor(value) AS BIGINT) AS val FROM events),
            marked AS (
              SELECT *, (val > 50)::INT AS is_active,
                     coalesce(lag((val > 50)::INT) OVER (PARTITION BY user_id ORDER BY ts), 0) AS prev_active
              FROM ev
            ),
            sess AS (
              SELECT *, sum(CASE WHEN is_active = 1 AND prev_active = 0 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts) AS session_id
              FROM marked
            ),
            act AS (SELECT * FROM sess WHERE is_active = 1),
            gaps AS (
              SELECT *, coalesce(epoch(lead(ts) OVER (PARTITION BY user_id, session_id ORDER BY ts))
                                  - epoch(ts), 0)::BIGINT AS gap_s
              FROM act
            ),
            sessions AS (
              SELECT user_id, session_id,
                     (epoch(max(ts)) - epoch(min(ts)))::BIGINT AS duration_s,
                     max(val) AS peak,
                     sum(gap_s * val)::BIGINT AS cm_s
              FROM gaps GROUP BY 1, 2
            )
            SELECT user_id, count(*)::BIGINT AS outage_frequency,
                   round(sum(duration_s)::DOUBLE / count(*) / 60.0, 2) AS avg_duration_min,
                   round(sum(peak)::DOUBLE / count(*), 2) AS avg_peak,
                   round(sum(cm_s)::DOUBLE / 60.0, 2) AS total_customer_minutes
            FROM sessions GROUP BY 1
        """,
        "q38_threshold_merger_single_track": """
            WITH ev AS (
              SELECT user_id::VARCHAR AS utility, date_trunc('second', ts) AS ts,
                     CAST(floor(value) AS BIGINT) AS out
              FROM events
            ),
            -- dedup: one reading per (utility, ts), minimum wins
            dedup AS (
              SELECT utility, ts, min(out) AS out FROM ev GROUP BY 1, 2
            ),
            -- segments split AFTER a zero reading (is_new semantics)
            marked AS (
              SELECT *, CASE WHEN coalesce(lag(out) OVER (PARTITION BY utility ORDER BY ts), -1) = 0
                             THEN 1 ELSE 0 END AS brk
              FROM dedup
            ),
            seg AS (
              SELECT *, sum(brk) OVER (PARTITION BY utility ORDER BY ts) AS seg_id
              FROM marked
            ),
            -- left-Riemann time-weighted integral: rco_t = out_t in the
            -- single-tracked regime, so total = sum (ts_t - ts_{t-1}) * out_{t-1}
            gaps AS (
              SELECT *, coalesce(epoch(lead(ts) OVER (PARTITION BY utility, seg_id ORDER BY ts))
                                  - epoch(ts), 0)::BIGINT AS gap_s
              FROM seg
            ),
            outages AS (
              SELECT utility,
                     min(ts) AS start_time, max(ts) AS end_time,
                     (epoch(max(ts)) - epoch(min(ts)))::BIGINT AS duration_s,
                     sum(gap_s * out)::BIGINT AS total
              FROM gaps GROUP BY utility, seg_id
            )
            SELECT utility,
                   strftime(start_time, '%Y-%m-%d %H:%M:%S') AS start_ts,
                   strftime(end_time, '%Y-%m-%d %H:%M:%S') AS end_ts,
                   round(total::DOUBLE / duration_s, 4) AS customer_affected_mean,
                   duration_s
            FROM outages WHERE duration_s > 0
        """,
        "q39_monthly_property_single_track": """
            WITH ev AS (
              SELECT user_id::VARCHAR AS utility, date_trunc('second', ts) AS ts,
                     CAST(floor(value) AS BIGINT) AS out
              FROM events
            ),
            dedup AS (
              SELECT utility, ts, min(out) AS out FROM ev GROUP BY 1, 2
            ),
            marked AS (
              SELECT *, CASE WHEN coalesce(lag(out) OVER (PARTITION BY utility ORDER BY ts), -1) = 0
                             THEN 1 ELSE 0 END AS brk
              FROM dedup
            ),
            seg AS (
              SELECT *, sum(brk) OVER (PARTITION BY utility ORDER BY ts) AS seg_id
              FROM marked
            ),
            gaps AS (
              SELECT *, coalesce(epoch(lead(ts) OVER (PARTITION BY utility, seg_id ORDER BY ts))
                                  - epoch(ts), 0)::BIGINT AS gap_s
              FROM seg
            ),
            outages AS (
              SELECT utility,
                     min(ts) AS start_time,
                     (epoch(max(ts)) - epoch(min(ts)))::BIGINT AS duration_s,
                     sum(gap_s * out)::BIGINT AS total
              FROM gaps GROUP BY utility, seg_id
            ),
            merged AS (
              SELECT utility, start_time, duration_s,
                     total::DOUBLE / duration_s AS mean
              FROM outages WHERE duration_s > 0
            ),
            win AS (
              SELECT * FROM merged
              WHERE start_time BETWEEN TIMESTAMP '2024-01-01 00:00:00'
                                   AND TIMESTAMP '2024-02-01 00:00:00'
            )
            SELECT utility,
                   count(*)::BIGINT AS frequency,
                   round(sum(duration_s / 60.0) / count(*), 4) AS avg_duration_min,
                   round(sum(mean) / count(*), 4) AS avg_customer_affected_mean,
                   round(sum(mean * (duration_s / 60.0)), 2) AS total_customer_affected_x_duration
            FROM win GROUP BY 1
        """,
        "q41_gold_eastern": f"""
            WITH obs AS ({_EVENTS_OBS_SQL}),
            g AS (
              SELECT outage_id,
                     lpad((outage_id::BIGINT % 50)::VARCHAR, 5, '0') AS zipcode,
                     min(start_time) AS start_time, max(timestamp) AS end_time
              FROM obs GROUP BY 1, 2
            ),
            est AS (
              SELECT outage_id, zipcode,
                     timezone('US/Eastern', timezone('UTC', start_time)) AS start_est_ts,
                     timezone('US/Eastern', timezone('UTC', end_time)) AS end_est_ts,
                     (epoch(end_time) - epoch(start_time)) / 60.0 AS duration
              FROM g
            )
            SELECT outage_id,
                   'county_' || (outage_id::BIGINT % 50)::VARCHAR AS county,
                   zipcode,
                   strftime(start_est_ts, '%Y-%m-%d %H:%M:%S') AS start_est,
                   strftime(end_est_ts, '%Y-%m-%d %H:%M:%S') AS end_est,
                   strftime(start_est_ts, '%Y-%m') AS start_month_est,
                   round(duration, 2) AS duration
            FROM est
        """,
        "q42_ganz_relative_threshold": """
            WITH ev AS (
              SELECT user_id::VARCHAR AS utility, date_trunc('second', ts) AS ts,
                     CAST(floor(value) AS BIGINT) AS out, 1000::BIGINT AS tracked
              FROM events
            ),
            dedup AS (
              SELECT utility, ts, min(out) AS out, min(tracked) AS tracked
              FROM ev GROUP BY 1, 2
            ),
            brk AS (
              SELECT *, CASE WHEN coalesce(lag(out) OVER (PARTITION BY utility ORDER BY ts), -1) = 0
                             THEN 1 ELSE 0 END AS is_brk
              FROM dedup
            ),
            seg AS (
              SELECT *, sum(is_brk) OVER (PARTITION BY utility ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS seg_id
              FROM brk
            ),
            marked AS (
              -- 0.05::DOUBLE: a bare literal types DECIMAL and the exact
              -- product diverges from Spark's double 0.05*tracked at
              -- boundary rows (out == 5% of tracked); the reference
              -- computes in Python floats, so DOUBLE is the true twin
              SELECT *, (out >= 0.05::DOUBLE * tracked) AS above,
                     coalesce(lag(out >= 0.05::DOUBLE * tracked)
                              OVER (PARTITION BY utility, seg_id ORDER BY ts), FALSE) AS prev_above
              FROM seg
            ),
            starts AS (
              SELECT *, CASE WHEN above AND NOT prev_above THEN 1 ELSE 0 END AS is_start
              FROM marked
            ),
            runs AS (
              SELECT *, sum(is_start) OVER (PARTITION BY utility, seg_id ORDER BY ts
                                            ROWS UNBOUNDED PRECEDING) AS run_id
              FROM starts
            ),
            in_event AS (
              SELECT *, epoch(lead(ts) OVER (PARTITION BY utility, seg_id, run_id ORDER BY ts))::BIGINT
                          - epoch(ts)::BIGINT AS gap_s
              FROM runs WHERE above OR prev_above
            ),
            evts AS (
              SELECT utility, seg_id, run_id,
                     min(ts) AS start_time, max(ts) AS end_time,
                     max(CASE WHEN NOT above THEN 1 ELSE 0 END) AS closed,
                     sum(gap_s * out)::BIGINT AS weighted_s
              FROM in_event GROUP BY 1, 2, 3
            )
            SELECT utility,
                   strftime(start_time, '%Y-%m-%d %H:%M:%S') AS start_ts,
                   strftime(end_time, '%Y-%m-%d %H:%M:%S') AS end_ts,
                   (epoch(end_time) - epoch(start_time))::BIGINT AS duration_s,
                   round(weighted_s::DOUBLE / (epoch(end_time) - epoch(start_time)), 4) AS customer_affected_mean
            FROM evts
            WHERE closed = 1 AND epoch(end_time) - epoch(start_time) > 0
        """,
        "q31_json_extract": """
            SELECT event_id, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k
            FROM events
        """,
        "q32_token_explode": f"""
            SELECT token, count(*)::BIGINT AS n
            FROM (SELECT unnest({_TOKS}) AS token FROM documents)
            GROUP BY 1 HAVING count(*) >= 100
        """,
        "q27_time_weighted_mean": """
            WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts, value FROM events),
            gaps AS (
              SELECT *, coalesce(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts)) - epoch(ts), 0) AS gap_s
              FROM ev
            )
            SELECT user_id,
                   round(sum(gap_s * value) / (CASE WHEN sum(gap_s) > 0 THEN sum(gap_s) END), 2) AS tw_mean_value
            FROM gaps GROUP BY 1
        """,
    }
    # q59 composes three already-gated oracles (gopher verdict ∧
    # repetition cap ∧ LM cap) — thresholds compare the ROUNDED values
    # both engines emit, so the kept set is identical by construction
    oracles["q59_quality_filter_v2"] = f"""
        WITH g AS (SELECT doc_id, keep FROM ({oracles["q43_gopher_quality_rules"]})),
             r AS (SELECT doc_id, dup_span_frac FROM ({oracles["q52_repetition_metrics"]})),
             l AS (SELECT doc_id, avg_nll FROM ({oracles["q57_bigram_lm_score"]}))
        SELECT g.doc_id, r.dup_span_frac, l.avg_nll
        FROM g JOIN r USING (doc_id) JOIN l USING (doc_id)
        WHERE g.keep AND r.dup_span_frac <= 0.05 AND l.avg_nll <= 3.43
    """
    # frozen-model scoring provably equals the self-trained path on the
    # same corpus (pytest parity + zero-shuffle plan test), so the q57
    # oracle gates q62 value-exact too
    oracles["q62_bigram_lm_frozen"] = oracles["q57_bigram_lm_score"]
    # q91 scores the parquet-table model trained on the same corpus —
    # table ≡ dict ≡ self-trained (pytest parity), so q57's oracle
    # gates it too
    oracles["q91_bigram_lm_model_table"] = oracles["q57_bigram_lm_score"]
    # q63: sliding 8-token windows (positions 0..len-8, the exact set
    # word_shingles emits) → corpus-wide occurrence count (>= 2 counts
    # POSITIONS, so a within-doc repeat is duplicated — suffix-array
    # semantics) → per-doc gaps-and-islands merge into maximal spans
    oracles["q63_dup_substring_spans"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        wins AS (
          SELECT doc_id,
                 unnest([{{'pos': i, 'txt': array_to_string(w[i+1 : i+8], ' ')}}
                         for i in generate_series(0, len(w) - 8)]) AS s
          FROM toks WHERE len(w) >= 8
        ),
        flat AS (SELECT doc_id, s.pos AS pos, s.txt AS wtext FROM wins),
        cnt AS (SELECT wtext FROM flat GROUP BY 1 HAVING count(*) >= 2),
        dup AS (SELECT f.doc_id, f.pos FROM flat f JOIN cnt USING (wtext)),
        run AS (
          SELECT doc_id, pos,
                 max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rend
          FROM dup
        ),
        isl AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN rend IS NULL OR pos > rend THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM run
        ),
        sp AS (
          SELECT doc_id, island, min(pos) AS s, max(pos) + 8 AS e, count(*) AS nw
          FROM isl GROUP BY 1, 2
        ),
        per AS (
          SELECT doc_id, sum(nw) AS ndw, count(*) AS nds, sum(e - s) AS dt
          FROM sp GROUP BY 1
        )
        SELECT t.doc_id,
               coalesce(p.ndw, 0)::BIGINT AS n_dup_windows,
               coalesce(p.nds, 0)::BIGINT AS n_dup_spans,
               coalesce(p.dt, 0)::BIGINT AS dup_tokens,
               round(coalesce(p.dt, 0)::DOUBLE / len(t.w), 4) AS dup_frac
        FROM toks t LEFT JOIN per p USING (doc_id)
    """
    # q65: SQ8 codebook = per-dim (min, max-min) computed IN SQL (min/
    # max are exact, no float-sum-order exposure); quantize/reconstruct
    # in the same left-assoc double expression shapes as sq8_codes/
    # sq8_dequantize; rank on the ROUNDED quantized cosine + id
    oracles["q65_sq8_quantized_ann"] = """
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        dims AS (
          SELECT u.i AS i, min(u.x) AS mn, max(u.x) - min(u.x) AS s
          FROM (SELECT unnest(list_transform(e, (x, i) -> {'i': i, 'x': x})) AS u FROM v)
          GROUP BY 1
        ),
        st AS (SELECT list(mn ORDER BY i) AS mns, list(s ORDER BY i) AS ss FROM dims),
        deq AS (
          SELECT vec_id,
                 list_transform(
                   list_transform(e, (x, i) -> CASE WHEN ss[i] > 0
                       THEN least(255, greatest(0, floor((x - mns[i]) / ss[i] * 256)))
                       ELSE 0 END),
                   (c, i) -> mns[i] + (c + 0.5) * ss[i] / 256) AS d
          FROM v, st
        )
        SELECT vec_id,
               round(list_cosine_similarity(d, (SELECT d FROM deq WHERE vec_id = 0)), 4) AS cos_sim
        FROM deq ORDER BY cos_sim DESC, vec_id LIMIT 10
    """
    # q80 probes the persisted quantized-IVF index exhaustively
    # (n_probe = n_centroids) with q65's exact scoring math — same
    # codebook (sq8_stats over the same table), same midpoint
    # dequantize, same 4dp-rounded ranking — so q65's oracle gates it
    oracles["q80_ann_ivf_sq8_index"] = oracles["q65_sq8_quantized_ann"]
    # q66: injection + counts + scrub all recomputed in DuckDB with the
    # SAME patterns (interpolated from operators/pii.py so the engines
    # cannot drift) — RE2 vs Java regex agreement is exactly what the
    # value gate checks. DuckDB regexp_replace needs 'g' to match
    # Spark's replace-all.
    _pii_scrub_sql = "t"
    for _pname, _ppat, _ptok in pii.PII_PATTERNS:
        _pii_scrub_sql = f"regexp_replace({_pii_scrub_sql}, '{_ppat}', '{_ptok}', 'g')"
    _pii_counts_sql = ", ".join(
        f"len(regexp_extract_all(t, '{_ppat}'))::INT AS n_{_pname}"
        for _pname, _ppat, _ptok in pii.PII_PATTERNS
    )
    oracles["q66_pii_scrub_report"] = f"""
        WITH enriched AS (
          SELECT doc_id,
            coalesce(text, '')
            || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN ' from 192.168.' || (doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR ELSE '' END
            || CASE WHEN doc_id % 7 = 0 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
            || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
            AS t
          FROM documents
        ),
        c AS (SELECT doc_id, {_pii_counts_sql}, {_pii_scrub_sql} AS scrubbed FROM enriched)
        SELECT doc_id, n_emails, n_ssns, n_phones, n_ipv4s,
               (n_emails + n_ssns + n_phones + n_ipv4s)::INT AS n_pii,
               md5(scrubbed) AS scrubbed_md5
        FROM c ORDER BY doc_id
    """
    # q69: URL synthesis + every feature recomputed in DuckDB; the
    # suffix list and keep thresholds interpolate from
    # operators/urlfilter.py so the engines cannot drift. All-integer
    # features (basis points via //), blocklist as IN (the Spark side's
    # broadcast-join flag is membership-equivalent).
    from outage_data_scraper_spark.operators import urlfilter as _uf

    _sfx = ", ".join(f"'{s}'" for s in _uf.MULTI_LABEL_SUFFIXES)
    oracles["q69_url_filter"] = f"""
        WITH urls AS (
          SELECT 'https://'
            || CASE doc_id % 5
                 WHEN 0 THEN 'h' || (doc_id % 40)::VARCHAR || '.synth.net'
                 WHEN 1 THEN 'www.h' || (doc_id % 40)::VARCHAR || '.synth.co.uk'
                 WHEN 2 THEN 'a.b.c.h' || (doc_id % 40)::VARCHAR || '.synth.org'
                 WHEN 3 THEN 'h' || (doc_id % 40)::VARCHAR || '.spam-domain.net'
                 ELSE 'cdn' || (doc_id % 97)::VARCHAR || (doc_id % 10)::VARCHAR
                      || '.h' || (doc_id % 40)::VARCHAR || '.synth.com'
               END
            || CASE WHEN doc_id % 3 = 0 THEN '/a/b/c/doc' || doc_id::VARCHAR
                    ELSE '/doc' || doc_id::VARCHAR END
            || CASE WHEN doc_id % 4 = 0 THEN '?x=1&y=2&z=3' ELSE '' END AS url
          FROM documents
        ),
        f1 AS (
          SELECT url,
                 split_part(split_part(url, '://', 2), '/', 1) AS host,
                 regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
                 regexp_extract(url, '\\?([^#]*)', 1) AS q
          FROM urls
        ),
        f2 AS (
          SELECT *, string_split(host, '.') AS ls, len(string_split(host, '.')) AS n
          FROM f1
        ),
        f3 AS (
          SELECT url, host, path, q,
                 CASE WHEN n >= 3 AND (ls[n-1] || '.' || ls[n]) IN ({_sfx})
                        THEN ls[n-2] || '.' || ls[n-1] || '.' || ls[n]
                      WHEN n >= 2 THEN ls[n-1] || '.' || ls[n]
                      ELSE host END AS reg_domain
          FROM f2
        ),
        f4 AS (
          SELECT url, host, reg_domain,
                 ((length(host) - length(replace(host, '.', '')))
                  - (length(reg_domain) - length(replace(reg_domain, '.', ''))))::INT
                   AS subdomain_depth,
                 (length(path) - length(replace(path, '/', '')))::INT AS path_depth,
                 (CASE WHEN q = '' THEN 0
                       ELSE length(q) - length(replace(q, '&', '')) + 1 END)::INT
                   AS n_params,
                 ((length(host) - length(regexp_replace(host, '[0-9]', '', 'g')))
                  * 10000 // length(host))::INT AS host_digit_bp,
                 length(url)::INT AS url_len,
                 reg_domain IN ('spam-domain.net', 'evil.example') AS blocked
          FROM f3
        )
        SELECT *,
               (NOT blocked
                AND subdomain_depth <= {_uf.MAX_SUBDOMAIN_DEPTH}
                AND path_depth <= {_uf.MAX_PATH_DEPTH}
                AND host_digit_bp < {_uf.MAX_HOST_DIGIT_BP}
                AND url_len <= {_uf.MAX_URL_LEN}) AS keep
        FROM f4 ORDER BY url
    """
    # q70: positions via list_transform index (1-based → pos = i-1);
    # posting order pinned with ORDER BY inside string_agg — the same
    # determinism the Spark side gets from sort_array + struct sort
    oracles["q70_inverted_index"] = f"""
        WITH pos AS (
          SELECT doc_id, u.x AS term, u.i - 1 AS pos
          FROM (SELECT doc_id,
                       unnest(list_transform({_TOKS}, (x, i) -> {{'x': x, 'i': i}})) AS u
                FROM documents
                WHERE length({_NORM}) > 0)
        ),
        perdoc AS (
          SELECT term, doc_id, count(*)::BIGINT AS tf,
                 string_agg(pos::VARCHAR, '|' ORDER BY pos) AS plist
          FROM pos GROUP BY 1, 2
        )
        SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf,
               string_agg(doc_id::VARCHAR || ':' || plist, ',' ORDER BY doc_id)
                 AS postings
        FROM perdoc GROUP BY 1
        HAVING count(*) >= 2
        ORDER BY term
    """
    # q71: BM25 with every expression shape mirrored (left-assoc, all
    # ::DOUBLE literals per the DECIMAL-literal invariant); per-term
    # micro-unit rounding makes the per-doc sum an integer sum, so
    # score_u is exact cross-engine
    oracles["q71_bm25_search"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKS} AS w FROM documents WHERE length({_NORM}) > 0
        ),
        s AS (
          SELECT count(*)::BIGINT AS n,
                 sum(len(w))::DOUBLE / count(*) AS avgdl
          FROM base
        ),
        pos AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM base),
        m AS (
          SELECT term, doc_id, dl, count(*)::BIGINT AS tf
          FROM pos WHERE term IN ('spark', 'window', 'join')
          GROUP BY 1, 2, 3
        ),
        d AS (SELECT term, count(*)::BIGINT AS df FROM m GROUP BY 1),
        c AS (
          SELECT m.doc_id,
                 CAST(round(
                   ln((CAST(s.n AS DOUBLE) - df + 0.5::DOUBLE)
                      / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                   * ((tf::DOUBLE * 2.2::DOUBLE)
                      / (tf::DOUBLE + 1.2::DOUBLE
                         * (0.25::DOUBLE + 0.75::DOUBLE * dl::DOUBLE / s.avgdl)))
                   * 1000000.0::DOUBLE, 0) AS BIGINT) AS cu
          FROM m JOIN d USING (term), s
        )
        SELECT doc_id, sum(cu)::BIGINT AS score_u, count(*)::BIGINT AS n_terms
        FROM c GROUP BY 1
        ORDER BY score_u DESC, doc_id LIMIT 20
    """
    # q72: buckets cut on the ROUNDED avg_nll both engines already agree
    # on exactly (q57's gated value), so the CASE is boundary-safe;
    # per-bucket aggregates of gated values stay exact
    oracles["q72_perplexity_buckets"] = f"""
        WITH scored AS ({oracles["q57_bigram_lm_score"]})
        SELECT CASE WHEN avg_nll < 3.39::DOUBLE THEN 'head'
                    WHEN avg_nll < 3.42::DOUBLE THEN 'middle'
                    ELSE 'tail' END AS bucket,
               count(*)::BIGINT AS n_docs,
               sum(n_bigrams)::BIGINT AS total_bigrams,
               min(avg_nll) AS min_nll,
               max(avg_nll) AS max_nll
        FROM scored GROUP BY 1 ORDER BY bucket
    """
    # q73: DuckDB's NATIVE ASOF LEFT JOIN as the oracle for the
    # union+window as-of; right side pre-deduped identically so the
    # match is deterministic; integer epoch-microseconds throughout
    oracles["q73_asof_join"] = """
        WITH l AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ),
        r AS (
          SELECT user_id, ts, event_id FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'
          ) WHERE rn = 1
        )
        SELECT l.event_id, l.user_id,
               epoch_us(l.ts) AS ts_us,
               r.event_id AS r_event_id,
               epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY l.event_id
    """
    # q74: the oracle is the PLAIN inequality join (DuckDB plans its own
    # IE-join) — the bucketized Spark path must reproduce it exactly
    oracles["q74_range_join"] = """
        WITH p AS (
          SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
          FROM events WHERE event_type = 'purchase'
        ),
        i AS (
          SELECT event_id AS i_id, user_id, epoch_us(ts) AS start_us,
                 epoch_us(ts) + (event_id % 7200 + 60) * 1000000 AS end_us
          FROM events WHERE event_type = 'signup'
        )
        SELECT p_id, i_id, user_id, p_us, p_us - start_us AS offset_us
        FROM p JOIN i USING (user_id)
        WHERE p_us BETWEEN start_us AND end_us
        ORDER BY p_id, i_id
    """
    # q75: the oracle aggregates RAW directly at every resolution — the
    # Spark side's finer→coarser cascade must equal it exactly, which
    # is the mergeability proof; floored micro-unit values keep every
    # sum integer (order-free)
    oracles["q75_rollup_cascade"] = """
        WITH raw AS (
          SELECT event_type, epoch_us(ts) AS ts_us,
                 CAST(floor(value * 1000000.0) AS BIGINT) AS value_u
          FROM events
        ),
        lv AS (SELECT unnest([60, 3600, 86400]) AS level_s)
        SELECT level_s, event_type,
               (ts_us // (level_s::BIGINT * 1000000))
                 * (level_s::BIGINT * 1000000) AS bucket_us,
               count(*)::BIGINT AS n,
               sum(value_u)::BIGINT AS sum_u,
               min(value_u)::BIGINT AS min_u,
               max(value_u)::BIGINT AS max_u
        FROM raw, lv
        GROUP BY 1, 2, 3
        ORDER BY level_s, event_type, bucket_us
    """
    # q76: the whole HLL recomputed in SQL — bucket/rho from the same
    # md5 substrings ('0x'||hex cast), integer harmonic sum, α and every
    # float literal interpolated from operators/sketch.py with ::DOUBLE
    from outage_data_scraper_spark.operators import sketch as _sk

    _b = "('0x' || substr(md5(user_id::VARCHAR), 1, 3))::INT"
    _w = "('0x' || substr(md5(user_id::VARCHAR), 4, 12))::BIGINT"
    _est_raw = (
        f"{_sk.ALPHA!r}::DOUBLE * {float(_sk.M)!r}::DOUBLE * {float(_sk.M)!r}::DOUBLE"
        f" / (sum_u::DOUBLE / {float(1 << 49)!r}::DOUBLE)"
    )
    oracles["q76_hll_distinct"] = f"""
        WITH r AS (
          SELECT {_b} AS bucket,
                 max(CASE WHEN {_w} = 0 THEN 49
                          ELSE 49 - length(bin({_w})) END) AS rho
          FROM events GROUP BY 1
        ),
        a AS (
          SELECT count(*)::BIGINT AS n_buckets,
                 sum((1::BIGINT << (49 - rho)))::BIGINT AS nz
          FROM r
        ),
        f AS (
          SELECT n_buckets,
                 nz + ({_sk.M}::BIGINT - n_buckets) * (1::BIGINT << 49) AS sum_u
          FROM a
        )
        SELECT n_buckets, sum_u,
               round(CASE WHEN ({_est_raw}) <= {2.5 * _sk.M!r}::DOUBLE
                               AND ({_sk.M} - n_buckets) > 0
                          THEN {float(_sk.M)!r}::DOUBLE
                               * ln({float(_sk.M)!r}::DOUBLE
                                    / ({_sk.M} - n_buckets)::DOUBLE)
                          ELSE {_est_raw} END, 4) AS est,
               (SELECT count(DISTINCT user_id) FROM events)::BIGINT
                 AS exact_distinct
        FROM f
    """
    # q77: the batch oracle reproduces the STREAMING emission rule —
    # append mode under availableNow emits exactly the windows whose
    # end <= max(ts) - watermark delay; 15-min epoch-aligned buckets in
    # integer epoch-µs
    oracles["q77_streaming_windowed_counts"] = """
        WITH wm AS (
          SELECT epoch_us(max(ts)) - 1800000000::BIGINT AS w FROM events
        ),
        c AS (
          SELECT (epoch_us(ts) // 900000000) * 900000000 AS ws_us,
                 event_type, count(*)::BIGINT AS n_records
          FROM events GROUP BY 1, 2
        )
        SELECT ws_us, ws_us + 900000000 AS we_us, event_type, n_records
        FROM c, wm WHERE ws_us + 900000000 <= w
        ORDER BY ws_us, event_type
    """
    # q78: k smallest (hash60, doc_id) per stratum — same md5 hash
    # chain as q48/q53; implementation's prefilter is semantics-free
    oracles["q78_quota_sample"] = """
        WITH q(lang, quota) AS (
          VALUES ('en', 100), ('de', 30), ('zh', 75), ('fr', 100)
        ),
        r AS (
          SELECT doc_id, d.lang,
                 row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY ('0x' || substr(md5('quota-1' || doc_id::VARCHAR), 1, 15))::BIGINT,
                            doc_id
                 ) AS sample_rank,
                 quota
          FROM documents d JOIN q ON d.lang = q.lang
        )
        SELECT doc_id, lang, sample_rank FROM r
        WHERE sample_rank <= quota
        ORDER BY lang, sample_rank
    """
    # q64: q49's disjoint 4-token chunk unit; deterministic top-k via
    # (ndocs DESC, occurrences DESC, span_text)
    oracles["q64_boilerplate_dictionary"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        spans AS (
          SELECT doc_id,
                 unnest([array_to_string(w[i*4+1 : i*4+4], ' ')
                         for i in generate_series(0, CAST(ceil(len(w)/4.0) AS INT) - 1)]) AS span_text
          FROM toks WHERE len(w) > 0
        ),
        agg AS (
          SELECT span_text,
                 count(*)::BIGINT AS occurrences,
                 count(DISTINCT doc_id)::BIGINT AS ndocs
          FROM spans GROUP BY 1
        )
        SELECT span_text, occurrences, ndocs
        FROM agg WHERE ndocs >= 5
        ORDER BY ndocs DESC, occurrences DESC, span_text
        LIMIT 20
    """
    # q81: the CMS recomputed in SQL — same md5 '{{row}}|term' bucket
    # law (hex→int via the '0x' idiom), same min-over-rows estimate, so
    # the sketch itself is cross-engine value-gated (q76 pattern)
    oracles["q81_cms_heavy_hitters"] = f"""
        WITH toks AS (
          SELECT unnest({_TOKS}) AS term FROM documents
          WHERE length(trim(text)) > 0
        ),
        cand AS (SELECT term, count(*)::BIGINT AS exact_cnt FROM toks GROUP BY 1),
        rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row),
        cells AS (
          SELECT row,
                 ('0x' || substr(md5(row || '|' || term), 1, 8))::BIGINT % 2048 AS bucket,
                 count(*)::BIGINT AS cnt
          FROM toks, rows_ GROUP BY 1, 2
        ),
        probes AS (
          SELECT c.term, r.row,
                 ('0x' || substr(md5(r.row || '|' || c.term), 1, 8))::BIGINT % 2048 AS bucket
          FROM cand c, rows_ r
        ),
        est AS (
          SELECT term, min(coalesce(cnt, 0))::BIGINT AS est_cnt
          FROM probes LEFT JOIN cells USING (row, bucket) GROUP BY 1
        )
        SELECT term, est_cnt, exact_cnt
        FROM est JOIN cand USING (term)
        WHERE est_cnt >= 100
        ORDER BY est_cnt DESC, term
    """
    # q82: the semantic definition of the two-pass exact order
    # statistics — one row_number window (value at a rank is
    # tiebreak-independent, so plain ORDER BY n_chars suffices)
    oracles["q82_exact_quantiles"] = """
        WITH r AS (
          SELECT n_chars,
                 row_number() OVER (ORDER BY n_chars, doc_id) AS rn
          FROM documents
        ),
        n AS (SELECT count(*)::BIGINT AS n FROM documents)
        SELECT DISTINCT rn::BIGINT AS rank, n_chars::BIGINT AS value
        FROM r, n
        WHERE rn IN (1, n // 4, n // 2, (3 * n) // 4, n)
        ORDER BY rank
    """
    # q83: the one-window semantic definition the two-level prefix-sum
    # decomposition must equal; integer DIV boundary law (CLAUDE.md)
    oracles["q83_shard_plan"] = """
        WITH a AS (
          SELECT doc_id, n_chars::BIGINT AS size,
                 (sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - n_chars) // 8192 AS shard_id
          FROM documents
        )
        SELECT shard_id::BIGINT AS shard_id, count(*)::BIGINT AS n_docs,
               sum(size)::BIGINT AS bytes,
               min(doc_id)::BIGINT AS first_doc, max(doc_id)::BIGINT AS last_doc
        FROM a GROUP BY 1 ORDER BY shard_id
    """
    # q85: the winnowing selection re-derived in DuckDB list
    # comprehensions — same 36-bit md5 shingle hash ('0x' idiom), same
    # packed h*2^24 + (2^24-1-pos) key, min per 4-window (1-based
    # INCLUSIVE slices), distinct, unpack with // integer division.
    oracles["q85_winnow_fingerprints"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS w FROM documents
          WHERE length(trim(text)) > 0
        ),
        kg AS (
          SELECT doc_id,
                 [('0x' || substr(md5(array_to_string(w[i : i+3], ' ')), 1, 9))::BIGINT
                    * 16777216 + (16777215 - (i - 1))
                  for i in generate_series(1, len(w) - 3)] AS keys
          FROM toks WHERE len(w) >= 4
        ),
        sel AS (
          SELECT doc_id,
                 unnest(list_distinct(
                   [list_min(keys[j : j+3])
                    for j in generate_series(1, greatest(1, len(keys) - 3))]
                 )) AS key
          FROM kg
        )
        SELECT doc_id::BIGINT AS doc_id,
               (16777215 - (key % 16777216))::BIGINT AS pos,
               (key // 16777216)::BIGINT AS fp
        FROM sel
        ORDER BY doc_id, pos
    """
    # q86: q85's selection as a CTE, then the MOSS match step — distinct
    # (doc, fp), df-capped, self-joined, pair-counted. Same integer law.
    oracles["q86_fingerprint_overlap"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS w FROM documents
          WHERE length(trim(text)) > 0
        ),
        kg AS (
          SELECT doc_id,
                 [('0x' || substr(md5(array_to_string(w[i : i+3], ' ')), 1, 9))::BIGINT
                    * 16777216 + (16777215 - (i - 1))
                  for i in generate_series(1, len(w) - 3)] AS keys
          FROM toks WHERE len(w) >= 4
        ),
        sel AS (
          SELECT DISTINCT doc_id,
                 unnest(list_distinct(
                   [list_min(keys[j : j+3])
                    for j in generate_series(1, greatest(1, len(keys) - 3))]
                 )) // 16777216 AS fp
          FROM kg
        ),
        rare AS (
          SELECT doc_id, fp FROM (
            SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
            FROM sel
          ) WHERE df <= 50
        )
        SELECT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b,
               count(*)::BIGINT AS n_shared
        FROM rare a JOIN rare b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY id_a, id_b
    """
    # q84: the stateful-streaming emission rules replayed in batch SQL.
    # Probe-confirmed semantics (streaming/stateful.py docstring):
    # watermark/timeout compare in integer MILLISECONDS (us floored —
    # DuckDB epoch_ms ≡ Spark's us/1000), timeouts fire on STRICT
    # watermark excess, data beats timeout within a batch, and the
    # engine runs one final no-data batch at global-max − delay.
    # Files = the same fixed weekly thresholds; batches renumbered over
    # NON-EMPTY files only (write_time_split skips empty ranges).
    oracles["q84_stateful_sessions"] = """
        WITH ev AS (
          SELECT user_id::BIGINT AS key, ts::TIMESTAMP AS ts,
                 CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 0
                      WHEN ts < TIMESTAMP '2024-01-15' THEN 1
                      WHEN ts < TIMESTAMP '2024-01-22' THEN 2
                      ELSE 3 END AS f
          FROM events
        ),
        batches AS (
          SELECT f, row_number() OVER (ORDER BY f) AS b,
                 max(mx_ms) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS cm_ms
          FROM (SELECT f, max(epoch_ms(ts)) AS mx_ms FROM ev GROUP BY 1)
        ),
        evb AS (SELECT e.key, e.ts, b.b FROM ev e JOIN batches b USING (f)),
        brk AS (
          SELECT key, ts, b,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                      THEN 1 ELSE 0 END AS is_start
          FROM evb WINDOW w AS (PARTITION BY key ORDER BY ts)
        ),
        g AS (
          SELECT key, ts, b,
                 sum(is_start) OVER (
                   PARTITION BY key ORDER BY ts ROWS UNBOUNDED PRECEDING
                 ) AS sid
          FROM brk
        ),
        sess AS (
          SELECT key, sid, min(ts) AS s_start, max(ts) AS s_end,
                 count(*)::BIGINT AS n_events, min(b) AS b_first
          FROM g GROUP BY 1, 2
        ),
        nxt AS (
          SELECT s.*, s2.b_first AS b_next
          FROM sess s LEFT JOIN sess s2
            ON s.key = s2.key AND s2.sid = s.sid + 1
        ),
        gl AS (SELECT max(cm_ms) AS gmx FROM batches)
        SELECT n.key,
               epoch_us(n.s_start)::BIGINT AS s_start_us,
               epoch_us(n.s_end)::BIGINT AS s_end_us,
               n.n_events,
               CASE WHEN n.b_next IS NULL THEN 'timeout'
                    WHEN bm.cm_ms IS NOT NULL
                         AND bm.cm_ms - 900000 > epoch_ms(n.s_end) + 1800000
                    THEN 'timeout'
                    ELSE 'gap' END AS closed_by
        FROM nxt n
        LEFT JOIN batches bm ON bm.b = n.b_next - 2
        CROSS JOIN gl
        WHERE n.b_next IS NOT NULL
           OR gl.gmx - 900000 > epoch_ms(n.s_end) + 1800000
    """
    # q87: ExactSubstr removal — INDEPENDENT covered-position
    # formulation: q63's duplicated window positions expand to their w
    # covered token offsets; kept tokens = anti-join of the indexed
    # token list; ordered string_agg reassembles; md5 digests the text
    # (vs the engine's span-complement zip_with slices).
    oracles["q87_remove_dup_spans"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        wins AS (
          SELECT doc_id,
                 unnest([{{'pos': i, 'txt': array_to_string(w[i+1 : i+8], ' ')}}
                         for i in generate_series(0, len(w) - 8)]) AS s
          FROM toks WHERE len(w) >= 8
        ),
        flat AS (SELECT doc_id, s.pos AS pos, s.txt AS wtext FROM wins),
        cnt AS (SELECT wtext FROM flat GROUP BY 1 HAVING count(*) >= 2),
        dup AS (SELECT f.doc_id, f.pos FROM flat f JOIN cnt USING (wtext)),
        cov AS (
          SELECT DISTINCT doc_id, pos + g AS p
          FROM dup CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS g)
        ),
        tk AS (
          SELECT doc_id, u.i - 1 AS p, u.x AS tok
          FROM (SELECT doc_id,
                       unnest(list_transform(w, (x, i) -> {{'i': i, 'x': x}})) AS u
                FROM toks)
        ),
        kept AS (
          SELECT t.doc_id, t.p, t.tok
          FROM tk t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        ),
        res AS (
          SELECT doc_id, count(*) AS kt,
                 string_agg(tok, ' ' ORDER BY p) AS clean
          FROM kept GROUP BY 1
        )
        SELECT t.doc_id,
               len(t.w)::BIGINT AS orig_tokens,
               coalesce(r.kt, 0)::BIGINT AS kept_tokens,
               (len(t.w) - coalesce(r.kt, 0))::BIGINT AS removed_tokens,
               md5(coalesce(r.clean, '')) AS clean_md5
        FROM toks t LEFT JOIN res r USING (doc_id)
    """
    # q88 composes three already-gated oracles across their boundaries
    # (the q59 pattern): q51 survivors priced by q79's BPE tokens,
    # packed by the q83 one-window semantic shard law. q79's oracle is
    # digest-guarded committed parquet — if it fell back to rows-only
    # (regenerated testdata), q88 falls back with it.
    if "q79_bpe_encode_stats" in oracles:
        oracles["q88_training_export"] = f"""
            WITH surv AS (
              SELECT doc_id FROM ({oracles["q51_clean_corpus_pipeline"]})
            ),
            tok AS (
              SELECT doc_id, n_bpe_tokens
              FROM ({oracles["q79_bpe_encode_stats"]})
            ),
            base AS (
              SELECT d.doc_id, t.n_bpe_tokens::BIGINT AS sz,
                     d.n_chars::BIGINT AS nc
              FROM documents d JOIN surv USING (doc_id) JOIN tok t USING (doc_id)
            ),
            a AS (
              SELECT doc_id, sz, nc,
                     (sum(sz) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                      - sz) // 4096 AS shard_id
              FROM base
            )
            SELECT shard_id::BIGINT AS shard_id, count(*)::BIGINT AS n_docs,
                   sum(sz)::BIGINT AS tokens, sum(nc)::BIGINT AS bytes,
                   min(doc_id)::BIGINT AS first_doc,
                   max(doc_id)::BIGINT AS last_doc
            FROM a GROUP BY 1 ORDER BY shard_id
        """
    # q90: q51's pipeline with ExactSubstr removal as the dedup stage —
    # gopher CTEs and split CASE shared with q51 via module constants;
    # the removal is q87's covered-position formulation restricted to
    # the kept corpus (window counts over survivors only, matching the
    # Spark composition).
    oracles["q90_clean_pipeline_exactsubstr"] = f"""
        WITH {_GOPHER_KEPT_CTES},
        toks AS (
          SELECT doc_id, {_TOKS} AS w
          FROM documents JOIN kept USING (doc_id)
        ),
        wins AS (
          SELECT doc_id,
                 unnest([{{'pos': i, 'txt': array_to_string(w[i+1 : i+8], ' ')}}
                         for i in generate_series(0, len(w) - 8)]) AS s
          FROM toks WHERE len(w) >= 8
        ),
        flat AS (SELECT doc_id, s.pos AS pos, s.txt AS wtext FROM wins),
        cnt AS (SELECT wtext FROM flat GROUP BY 1 HAVING count(*) >= 2),
        dup AS (SELECT f.doc_id, f.pos FROM flat f JOIN cnt USING (wtext)),
        cov AS (
          SELECT DISTINCT doc_id, pos + g AS p
          FROM dup CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS g)
        ),
        tk AS (
          SELECT doc_id, u.i - 1 AS p, u.x AS tok
          FROM (SELECT doc_id,
                       unnest(list_transform(w, (x, i) -> {{'i': i, 'x': x}})) AS u
                FROM toks)
        ),
        kp AS (
          SELECT t2.doc_id, t2.p, t2.tok
          FROM tk t2 ANTI JOIN cov c ON t2.doc_id = c.doc_id AND t2.p = c.p
        ),
        res AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean
          FROM kp GROUP BY 1
        ),
        cleaned AS (
          SELECT t.doc_id, md5(coalesce(r.clean, '')) AS clean_sig
          FROM toks t LEFT JOIN res r USING (doc_id)
        ),
        canon AS (SELECT clean_sig, min(doc_id) AS canonical_id FROM cleaned GROUP BY 1)
        SELECT c.doc_id,
               {_split_case_sql("c.doc_id")} AS split,
               c.clean_sig
        FROM cleaned c JOIN canon USING (clean_sig)
        WHERE c.doc_id = canon.canonical_id
    """
    # q92/q93: the k-means law lives in ONE generator
    # (cluster.kmeans_oracle_sql) interpolated here — rounds unrolled as
    # chained CTEs; q93 wraps it over the shared twin corpus and applies
    # the q24 rounded-cosine pair law within clusters.
    from outage_data_scraper_spark.operators.cluster import kmeans_oracle_sql

    oracles["q92_kmeans_micro"] = (
        kmeans_oracle_sql(k=8, n_iter=2) + " ORDER BY vec_id"
    )
    oracles["q93_semdedup"] = f"""
        WITH {_TWIN_CORPUS_CTES},
        km AS ({kmeans_oracle_sql(k=8, n_iter=2, source="corpus", vec_expr="v")}),
        lab AS (
          SELECT c.vec_id, c.v, k1.cluster
          FROM corpus c JOIN km k1 USING (vec_id)
        ),
        drp AS (
          SELECT DISTINCT b.vec_id
          FROM lab a JOIN lab b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.99::DOUBLE
        )
        SELECT k.vec_id, k.cluster, d.vec_id IS NULL AS keep
        FROM km k LEFT JOIN drp d USING (vec_id)
        ORDER BY k.vec_id
    """
    # q97: TTL-evicted dedup — per-key recursive-CTE fold over its
    # sighting batches under the q84 watermark laws: re-emit at batch q
    # iff q ≥ p+2 AND cummax(file maxes through q−2) − delay >
    # island_last_seen + ttl (strict); island last_seen resets on
    # re-emission, else accumulates by max
    oracles["q97_streaming_dedup_ttl"] = """
        WITH RECURSIVE ev AS (
          SELECT md5(user_id || '|' || props) AS sig,
                 ts::TIMESTAMP AS ts, event_id::BIGINT AS rid,
                 CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 0
                      WHEN ts < TIMESTAMP '2024-01-15' THEN 1
                      WHEN ts < TIMESTAMP '2024-01-22' THEN 2
                      ELSE 3 END AS f
          FROM events
        ),
        batches AS (
          SELECT f, row_number() OVER (ORDER BY f) AS b,
                 max(mx_ms) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS cm_ms
          FROM (SELECT f, max(epoch_ms(ts)) AS mx_ms FROM ev GROUP BY 1)
        ),
        evb AS (SELECT e.sig, e.ts, e.rid, b.b FROM ev e JOIN batches b USING (f)),
        pb AS (
          SELECT sig, b, ts AS fts, rid AS frid, mx
          FROM (
            SELECT sig, b, ts, rid,
                   row_number() OVER (PARTITION BY sig, b ORDER BY ts, rid) AS rn,
                   max(epoch_ms(ts)) OVER (PARTITION BY sig, b) AS mx
            FROM evb
          ) WHERE rn = 1
        ),
        seq AS (
          SELECT pb.*, row_number() OVER (PARTITION BY sig ORDER BY b) AS j
          FROM pb
        ),
        rec AS (
          SELECT sig, j, b, TRUE AS emit, mx AS l, fts, frid
          FROM seq WHERE j = 1
          UNION ALL
          SELECT s.sig, s.j, s.b,
                 (s.b >= r.b + 2
                  AND cm.cm_ms - 900000 > r.l + 518400000) AS emit,
                 CASE WHEN s.b >= r.b + 2
                           AND cm.cm_ms - 900000 > r.l + 518400000
                      THEN s.mx ELSE greatest(r.l, s.mx) END AS l,
                 s.fts, s.frid
          FROM rec r JOIN seq s ON s.sig = r.sig AND s.j = r.j + 1
          LEFT JOIN batches cm ON cm.b = s.b - 2
        )
        SELECT sig, epoch_us(fts)::BIGINT AS first_ts_us, frid AS first_id
        FROM rec WHERE emit ORDER BY sig, first_ts_us
    """
    # q96: NB classifier — labels from the shared gopher CTEs, weights
    # in the exact expression shape of classifier.nb_quality_scores,
    # integer micro-nat sums (order-free)
    oracles["q96_nb_quality_classifier"] = f"""
        WITH {_GOPHER_KEPT_CTES},
        lab AS (
          SELECT d.doc_id, {_TOKS} AS w, (k.doc_id IS NOT NULL) AS pos
          FROM documents d LEFT JOIN kept k USING (doc_id)
        ),
        tok AS (SELECT doc_id, pos, unnest(w) AS t FROM lab),
        cnt AS (
          SELECT t,
                 sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS cp,
                 sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS cn
          FROM tok GROUP BY 1
        ),
        tot AS (
          SELECT sum(cp)::DOUBLE AS np, sum(cn)::DOUBLE AS nn,
                 count(*)::DOUBLE AS v
          FROM cnt
        ),
        sc AS (
          SELECT tok.doc_id,
                 CAST(round(ln(((cnt.cp + 1.0) / (tot.np + tot.v))
                               / ((cnt.cn + 1.0) / (tot.nn + tot.v)))
                            * 1e6) AS BIGINT) AS m
          FROM tok JOIN cnt USING (t), tot
        )
        SELECT doc_id, count(*)::BIGINT AS n_tokens,
               sum(m)::BIGINT AS score_micro,
               sum(m) >= 0 AS predicted_keep
        FROM sc GROUP BY 1 ORDER BY doc_id
    """
    # q95: streaming keyed-state dedup replayed in batch — first file
    # (q84's fixed weekly thresholds) containing each signature, then
    # the min-(ts, id) row and count within that file
    oracles["q95_streaming_dedup"] = """
        WITH ev AS (
          SELECT md5(event_type || '|' || props) AS sig,
                 ts::TIMESTAMP AS ts, event_id::BIGINT AS rid,
                 CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 0
                      WHEN ts < TIMESTAMP '2024-01-15' THEN 1
                      WHEN ts < TIMESTAMP '2024-01-22' THEN 2
                      ELSE 3 END AS f
          FROM events
        ),
        fb AS (SELECT sig, min(f) AS f0 FROM ev GROUP BY 1),
        infb AS (
          SELECT e.sig, e.ts, e.rid,
                 row_number() OVER (PARTITION BY e.sig ORDER BY e.ts, e.rid) AS rn,
                 count(*) OVER (PARTITION BY e.sig) AS nfb
          FROM ev e JOIN fb ON e.sig = fb.sig AND e.f = fb.f0
        )
        SELECT sig, epoch_us(ts)::BIGINT AS first_ts_us, rid AS first_id,
               nfb::BIGINT AS n_first_batch
        FROM infb WHERE rn = 1 ORDER BY sig
    """
    # q94: two frozen-model scoring passes from ONE SQL generator
    # (train subset differs), weight = integer 0.1-milli-nat log-ratio
    # of the gated 4dp avg_nll values
    oracles["q94_dsir_weights"] = f"""
        WITH t AS ({_frozen_bigram_nll_sql("lang = 'en'")}),
             s AS ({_frozen_bigram_nll_sql("TRUE")})
        SELECT t.doc_id,
               CAST(round((s.avg_nll - t.avg_nll) * 10000) AS BIGINT)
                 AS weight_micro
        FROM t JOIN s USING (doc_id)
        ORDER BY t.doc_id
    """
    # q89: q86's pair derivation feeding q47's recursive-CTE closure;
    # keep = the canonical (cluster-min) doc.
    oracles["q89_fingerprint_dedup_clusters"] = f"""
        WITH RECURSIVE pairs AS (
          SELECT id_a, id_b FROM ({oracles["q86_fingerprint_overlap"]})
        ),
        bi AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM bi
          UNION
          SELECT r.src, b.dst FROM reach r JOIN bi b ON r.dst = b.src
        ),
        comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(least(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS component,
               COALESCE(least(c.mn, d.doc_id), d.doc_id) = d.doc_id AS keep
        FROM documents d LEFT JOIN comp c USING (doc_id)
    """
    # q98: the semantic one-window prefix sum + generate_series
    # expansion of the concat-and-chunk law; all-integer arithmetic
    # (// floors = DIV truncates on the non-negative domain —
    # CLAUDE.md sign law holds: start and n are both ≥ 0).
    oracles["q98_sequence_packing"] = f"""
        WITH sized AS (
          SELECT doc_id, ({_N_TOKS})::BIGINT AS n FROM documents
        ),
        pos AS (
          SELECT doc_id, n,
                 (sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 )::BIGINT AS strt
          FROM sized WHERE n > 0
        ),
        touched AS (
          SELECT doc_id, n, strt,
                 unnest(generate_series(strt // 256, (strt + n - 1) // 256))
                   AS seq_id
          FROM pos
        )
        SELECT seq_id::BIGINT AS seq_id,
               count(*)::BIGINT AS n_docs,
               sum(least(strt + n, (seq_id + 1) * 256)
                   - greatest(strt, seq_id * 256))::BIGINT AS n_tokens,
               sum(CASE WHEN (strt + n - 1) // 256 = seq_id THEN 1 ELSE 0 END
                  )::BIGINT AS n_doc_ends,
               min(doc_id)::BIGINT AS first_doc,
               max(doc_id)::BIGINT AS last_doc
        FROM touched GROUP BY 1 ORDER BY seq_id
    """
    # q99: q49's chunk derivation, keep-first winner = min packed
    # doc_id*2^24+pos — the identical integer tie law both engines
    # compute; clean_md5 digests the reassembled survivors.
    oracles["q99_paragraph_dedup_keep_first"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        spans AS (
          SELECT doc_id,
                 unnest([{{'pos': i, 'txt': array_to_string(w[i*4+1 : i*4+4], ' ')}}
                         for i in generate_series(0, CAST(ceil(len(w)/4.0) AS INT) - 1)]) AS s
          FROM toks WHERE len(w) > 0
        ),
        flat AS (SELECT doc_id, s.pos AS pos, s.txt AS span_text,
                        doc_id * 16777216 + s.pos AS key FROM spans),
        win AS (SELECT span_text, min(key) AS wkey FROM flat GROUP BY 1)
        SELECT f.doc_id,
               count(*)::BIGINT AS n_spans,
               sum(CASE WHEN f.key <> w.wkey THEN 1 ELSE 0 END)::BIGINT
                 AS n_dropped,
               md5(coalesce(string_agg(CASE WHEN f.key = w.wkey
                                            THEN f.span_text END,
                                       ' ' ORDER BY f.pos), '')) AS clean_md5
        FROM flat f JOIN win w USING (span_text)
        GROUP BY 1 ORDER BY f.doc_id
    """
    # q100: the linear recursive-CTE walk over the SAME synthesized
    # edges the engine resolves by pointer doubling — semantics vs
    # execution, value-gated. Strictly-decreasing dst ⇒ the walk
    # terminates; the deepest row per node is the terminal.
    oracles["q100_redirect_resolution"] = """
        WITH RECURSIVE edges AS (
          SELECT doc_id AS src, doc_id - 1 - (doc_id % 3) AS dst
          FROM documents
          WHERE doc_id % 13 <> 0 AND doc_id - 1 - (doc_id % 3) >= 0
        ),
        walk(node, cur, hops) AS (
          SELECT src, dst, 1::BIGINT FROM edges
          UNION ALL
          SELECT w.node, e.dst, w.hops + 1
          FROM walk w JOIN edges e ON w.cur = e.src
        ),
        fin AS (
          SELECT node, cur, hops,
                 row_number() OVER (PARTITION BY node ORDER BY hops DESC) AS rn
          FROM walk
        )
        SELECT d.doc_id::BIGINT AS node,
               COALESCE(f.cur, d.doc_id)::BIGINT AS terminal,
               COALESCE(f.hops, 0)::BIGINT AS hops
        FROM documents d
        LEFT JOIN (SELECT node, cur, hops FROM fin WHERE rn = 1) f
          ON d.doc_id = f.node
        ORDER BY node
    """
    # q101: the oracle re-derives each template FROM THE URL STRING with
    # the same two regex squashes (digits → N first, then =value → =V),
    # so the template law is gated, not just the counting.
    oracles["q101_crawl_trap_detection"] = """
        WITH u AS (
          SELECT 'h' || (user_id % 20) || '.synth.net' AS host,
                 'https://h' || (user_id % 20) || '.synth.net/' || event_type || '/' ||
                 CASE WHEN event_type = 'click'
                      THEN 'session/' || event_id || '?uid=' || user_id
                      ELSE 'page/' || (event_id % 50) END AS url
          FROM events
        ),
        t AS (
          SELECT host, url,
                 'https://' || host ||
                 regexp_replace(
                   regexp_replace(substr(url, length('https://' || host) + 1),
                                  '[0-9]+', 'N', 'g'),
                   '=[^&#]*', '=V', 'g') AS template
          FROM u
        )
        SELECT host, template, count(DISTINCT url)::BIGINT AS n_urls
        FROM t GROUP BY 1, 2 HAVING count(DISTINCT url) >= 60
        ORDER BY host, template
    """
    # q102: the frozen two-level suffix list mirrored verbatim; DuckDB
    # 1-based INCLUSIVE slices take the last 2/3 labels.
    oracles["q102_registered_domain_rollup"] = """
        WITH h AS (
          SELECT 'h' || (doc_id % 7) ||
                 CASE (doc_id % 5)
                   WHEN 0 THEN '.shop.co.uk'
                   WHEN 1 THEN '.example.com'
                   WHEN 2 THEN '.mirror.com.au'
                   WHEN 3 THEN '.synth.net:8080'
                   ELSE '.blog.org.uk' END AS host
          FROM documents
        ),
        s AS (
          SELECT host, split_part(host, ':', 1) AS hn,
                 string_split(split_part(host, ':', 1), '.') AS w
          FROM h
        )
        SELECT CASE
                 WHEN len(w) <= 2 THEN hn
                 WHEN list_contains(
                        ['co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
                         'org.au','co.jp','ne.jp','com.br','co.in'],
                        array_to_string(w[len(w)-1 : len(w)], '.'))
                      AND len(w) >= 3
                 THEN array_to_string(w[len(w)-2 : len(w)], '.')
                 ELSE array_to_string(w[len(w)-1 : len(w)], '.')
               END AS registered_domain,
               count(DISTINCT host)::BIGINT AS n_hosts,
               count(*)::BIGINT AS n_urls
        FROM s GROUP BY 1 ORDER BY registered_domain
    """
    # q103: q88's survivor+BPE-pricing composition feeding the q98
    # packing law — the gated oracles composed as subqueries.
    oracles["q103_training_sequences"] = f"""
        WITH surv AS (
          SELECT doc_id FROM ({oracles["q51_clean_corpus_pipeline"]})
        ),
        tok AS (
          SELECT doc_id, n_bpe_tokens
          FROM ({oracles["q79_bpe_encode_stats"]})
        ),
        base AS (
          SELECT s.doc_id, t.n_bpe_tokens::BIGINT AS n
          FROM surv s JOIN tok t USING (doc_id)
          WHERE t.n_bpe_tokens > 0
        ),
        pos AS (
          SELECT doc_id, n,
                 (sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 )::BIGINT AS strt
          FROM base
        ),
        touched AS (
          SELECT doc_id, n, strt,
                 unnest(generate_series(strt // 512, (strt + n - 1) // 512))
                   AS seq_id
          FROM pos
        )
        SELECT seq_id::BIGINT AS seq_id,
               count(*)::BIGINT AS n_docs,
               sum(least(strt + n, (seq_id + 1) * 512)
                   - greatest(strt, seq_id * 512))::BIGINT AS n_tokens,
               sum(CASE WHEN (strt + n - 1) // 512 = seq_id THEN 1 ELSE 0 END
                  )::BIGINT AS n_doc_ends,
               min(doc_id)::BIGINT AS first_doc,
               max(doc_id)::BIGINT AS last_doc
        FROM touched GROUP BY 1 ORDER BY seq_id
    """
    # q104: Hamilton apportionment — integer base/remainder arithmetic
    # mirrored exactly (// floors ≡ DIV on the non-negative domain).
    oracles["q104_domain_quota_allocation"] = """
        WITH c AS (
          SELECT source, count(*)::BIGINT AS n_items FROM documents GROUP BY 1
        ),
        b AS (
          SELECT source, n_items,
                 (137 * n_items) // (SELECT sum(n_items) FROM c) AS base,
                 (137 * n_items) % (SELECT sum(n_items) FROM c) AS rem
          FROM c
        ),
        r AS (
          SELECT source, n_items, base,
                 row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
                 (SELECT 137 - sum(base) FROM b) AS extra
          FROM b
        )
        SELECT source, n_items,
               (base + CASE WHEN rk <= extra THEN 1 ELSE 0 END)::BIGINT AS quota
        FROM r ORDER BY source
    """
    # q105: same sig law (sorted distinct types, '|', md5), full-outer
    # diff with the four-way status CASE.
    oracles["q105_snapshot_diff"] = """
        WITH old AS (
          SELECT user_id AS page_key,
                 md5(string_agg(DISTINCT event_type, '|' ORDER BY event_type))
                   AS sig
          FROM events
          WHERE event_id % 2 = 0 AND user_id % 11 != 0
          GROUP BY 1
        ),
        new AS (
          SELECT user_id AS page_key,
                 md5(string_agg(DISTINCT event_type, '|' ORDER BY event_type))
                   AS sig
          FROM events
          WHERE event_id % 2 = 1 AND user_id % 13 != 0
          GROUP BY 1
        )
        SELECT coalesce(o.page_key, n.page_key)::BIGINT AS page_key,
               CASE WHEN o.sig IS NULL THEN 'new'
                    WHEN n.sig IS NULL THEN 'gone'
                    WHEN o.sig = n.sig THEN 'unchanged'
                    ELSE 'changed' END AS status,
               o.sig AS old_sig,
               n.sig AS new_sig
        FROM old o FULL OUTER JOIN new n ON o.page_key = n.page_key
        ORDER BY page_key
    """
    # q106: same link law; top anchor re-derived via row_number with the
    # identical (cnt DESC, anchor ASC) tie rule (binary collation both
    # engines); DuckDB list slice [1:2] is 1-based inclusive ≡ Spark
    # slice(_, 1, 2).
    oracles["q106_anchor_text_rollup"] = f"""
        WITH links AS ({_ANCHOR_LINKS_SQL}),
        ac AS (
          SELECT dst, anchor, count(*)::BIGINT AS cnt
          FROM links GROUP BY 1, 2
        ),
        top AS (
          SELECT dst, anchor, cnt,
                 row_number() OVER (
                   PARTITION BY dst ORDER BY cnt DESC, anchor ASC
                 ) AS rk
          FROM ac
        ),
        agg AS (
          SELECT dst,
                 count(*)::BIGINT AS n_inlinks,
                 count(DISTINCT src)::BIGINT AS n_src,
                 count(DISTINCT anchor)::BIGINT AS n_anchors
          FROM links GROUP BY 1
        )
        SELECT agg.dst::BIGINT AS dst, n_inlinks, n_src, n_anchors,
               t.anchor AS top_anchor, t.cnt AS top_anchor_count
        FROM agg JOIN top t ON agg.dst = t.dst AND t.rk = 1
        ORDER BY dst
    """
    # q107: the shared frozen-scoring CTEs with the per-doc SELECT
    # swapped to the integer ppl_micro (sum // n — floors ≡ DIV on the
    # non-negative micro-nat domain); tertile thresholds as exact
    # order statistics (value at a rank is tie-independent).
    _ppl_sql = _frozen_bigram_nll_sql(
        "lang = 'en'",
        final_select="SELECT doc_id, (sum(m) // count(*))::BIGINT AS"
        " ppl_micro FROM scored GROUP BY 1",
    )
    oracles["q107_perplexity_tertiles"] = f"""
        WITH s AS ({_ppl_sql}),
        nn AS (SELECT count(*)::BIGINT AS n FROM s),
        ord AS (
          SELECT ppl_micro,
                 row_number() OVER (ORDER BY ppl_micro) AS rk
          FROM s
        ),
        thr AS (
          SELECT
            (SELECT ppl_micro FROM ord, nn WHERE rk = (n + 2) // 3) AS t1,
            (SELECT ppl_micro FROM ord, nn
             WHERE rk = (2 * n + 2) // 3) AS t2
        )
        SELECT s.doc_id, s.ppl_micro,
               CASE WHEN s.ppl_micro <= thr.t1 THEN 'head'
                    WHEN s.ppl_micro <= thr.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM s, thr ORDER BY doc_id
    """
    oracles["q108_hits"] = _q108_oracle()
    # q109: the triangle set is orientation-independent, so the oracle
    # counts it with the plain a<b<c double-join over the same
    # synthesized edges (operator side uses degree orientation for
    # skew-capped wedges — values must agree exactly).
    oracles["q109_triangle_counts"] = """
        WITH e AS (
          SELECT doc_id AS a, doc_id + 1 AS b FROM documents
          UNION ALL SELECT doc_id, doc_id + 2 FROM documents
          UNION ALL SELECT doc_id, (doc_id * 7 + 3) % 101 FROM documents
        ),
        und AS (
          SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
          FROM e WHERE a != b
        ),
        tri AS (
          SELECT e1.x AS a, e1.y AS b, e2.y AS c
          FROM und e1
          JOIN und e2 ON e2.x = e1.y
          JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y
        ),
        pern AS (
          SELECT node, count(*)::BIGINT AS n_triangles FROM (
            SELECT unnest([a, b, c]) AS node FROM tri
          ) GROUP BY 1
        )
        SELECT d.doc_id::BIGINT AS node,
               coalesce(p.n_triangles, 0)::BIGINT AS n_triangles
        FROM documents d LEFT JOIN pern p ON p.node = d.doc_id
        ORDER BY node
    """
    # q110: identical varint law — minimal bin() strings both engines,
    # (len+6) // 7 ceil bytes, first delta = doc_id + 1, q70 token law.
    oracles["q110_posting_size_plan"] = f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
          ) WHERE term != ''
        ),
        posting AS (
          SELECT term, doc_id,
                 lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id)
                   AS prev
          FROM toks
        ),
        sized AS (
          SELECT term,
                 CASE WHEN prev IS NULL THEN doc_id + 1
                      ELSE doc_id - prev END AS delta
          FROM posting
        )
        SELECT term, count(*)::BIGINT AS df,
               (count(*) * 8)::BIGINT AS raw_bytes,
               sum((length(bin(delta)) + 6) // 7)::BIGINT AS varint_bytes
        FROM sized GROUP BY 1 ORDER BY term
    """
    # q111: the streamed-and-merged sketch must equal the batch cell
    # law over the same tokens (q81's cells CTE, cell-for-cell).
    oracles["q111_streaming_cms"] = f"""
        WITH toks AS (
          SELECT unnest({_TOKS}) AS term FROM documents
          WHERE length(trim(text)) > 0
        ),
        rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row)
        SELECT row::BIGINT AS row,
               (('0x' || substr(md5(row || '|' || term), 1, 8))::BIGINT
                % 2048)::BIGINT AS bucket,
               count(*)::BIGINT AS cnt
        FROM toks, rows_ GROUP BY 1, 2 ORDER BY row, bucket
    """
    # q112: the COMPOSED domain-fair pop law re-derived end to end —
    # per-host top-k (the q05 window), Hamilton quotas over per-domain
    # pool counts (the q104 arithmetic: // ≡ DIV on non-negative
    # operands), per-domain ranked cut with the +url tiebreak. The
    # synthesized dom CASE mirrors what registered_domain extracts from
    # the host (mega.com 2-label vs *.org.uk two-level-suffix 3-label).
    oracles["q112_domain_fair_wave"] = """
        WITH fr AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 10 < 7 THEN 'mega.com'
                      ELSE 'site' || (doc_id % 3) || '.org.uk' END AS dom,
                 (doc_id % 4) AS priority,
                 (doc_id % 7) AS event_seq,
                 doc_id AS seed_seq
          FROM documents
        ),
        u AS (
          SELECT *, 'h' || (doc_id % 11) || '.' || dom AS host FROM fr
        ),
        uu AS (
          SELECT *, 'https://' || host || '/p/' || doc_id AS url FROM u
        ),
        pool AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
              PARTITION BY host ORDER BY priority, event_seq, seed_seq
            ) AS rn FROM uu
          ) WHERE rn <= 5
        ),
        c AS (SELECT dom, count(*)::BIGINT AS n_items FROM pool GROUP BY 1),
        b AS (
          SELECT dom, n_items,
                 (60 * n_items) // (SELECT sum(n_items) FROM c) AS base,
                 (60 * n_items) % (SELECT sum(n_items) FROM c) AS rem
          FROM c
        ),
        q AS (
          SELECT dom,
                 base + CASE WHEN row_number() OVER (ORDER BY rem DESC, dom ASC)
                             <= (SELECT 60 - sum(base) FROM b)
                        THEN 1 ELSE 0 END AS quota
          FROM b
        ),
        ranked AS (
          SELECT p.url, p.host, p.dom,
                 row_number() OVER (
                   PARTITION BY p.dom
                   ORDER BY p.priority, p.event_seq, p.seed_seq, p.url
                 ) AS drn
          FROM pool p
        )
        SELECT r.url, r.host
        FROM ranked r JOIN q USING (dom)
        WHERE r.drn <= q.quota
        ORDER BY url
    """
    # q113: hop-bounded recursive UNION walk (the dedup form terminates
    # on the shortcut cycles) + min per node — the linear semantics the
    # engine's delta-frontier BFS must reproduce exactly. d < 16 mirrors
    # max_rounds=16; true eccentricity here is ~9 so the bound is slack.
    oracles["q113_hop_distance"] = """
        WITH RECURSIVE edges AS (
          SELECT (doc_id // 2) AS src, doc_id AS dst
          FROM documents WHERE doc_id >= 1
          UNION ALL
          SELECT doc_id, (doc_id * 7 + 3) % 101 FROM documents
        ),
        walk(node, d) AS (
          SELECT * FROM (VALUES (0::BIGINT, 0::BIGINT),
                                (300::BIGINT, 0::BIGINT))
          UNION
          SELECT e.dst, w.d + 1
          FROM walk w JOIN edges e ON w.node = e.src
          WHERE w.d < 16
        ),
        md AS (SELECT node, min(d) AS dist FROM walk GROUP BY 1)
        SELECT d.doc_id::BIGINT AS node,
               coalesce(md.dist, -1)::BIGINT AS dist
        FROM documents d LEFT JOIN md ON md.node = d.doc_id
        ORDER BY node
    """
    # q114: same page synthesis, same law — distinct (host, sig)
    # collapse, df ≤ 2 cut before the pair join, full-set denominators,
    # integer basis-point containment (// ≡ DIV, non-negative).
    oracles["q114_host_mirror_detection"] = """
        WITH pages AS (
          SELECT DISTINCT 'm' || (doc_id % 40) AS host,
                 md5(CASE WHEN (doc_id // 40 + doc_id) % 5 = 0
                     THEN 'own/' || (doc_id % 40) || '/' || (doc_id // 40)
                     ELSE 'mir/' || ((doc_id % 40) // 2) || '/' ||
                          (doc_id // 40) END) AS sig
          FROM documents
          UNION
          SELECT DISTINCT 'm' || (doc_id % 40) AS host, md5('common') AS sig
          FROM documents
        ),
        sizes AS (SELECT host, count(*)::BIGINT AS n FROM pages GROUP BY 1),
        rare AS (
          SELECT * FROM pages WHERE sig IN (
            SELECT sig FROM pages GROUP BY 1 HAVING count(*) <= 2)
        ),
        pairs AS (
          SELECT a.host AS host_a, b.host AS host_b,
                 count(*)::BIGINT AS n_shared
          FROM rare a JOIN rare b ON a.sig = b.sig AND a.host < b.host
          GROUP BY 1, 2 HAVING count(*) >= 3
        )
        SELECT p.host_a, p.host_b, p.n_shared,
               sa.n AS n_a, sb.n AS n_b,
               ((10000 * p.n_shared) // least(sa.n, sb.n))::BIGINT
                 AS containment_bp
        FROM pairs p
        JOIN sizes sa ON sa.host = p.host_a
        JOIN sizes sb ON sb.host = p.host_b
        ORDER BY host_a, host_b
    """
    # q115: q71's contribution CTEs verbatim with the term filter
    # removed and the per-doc sum swapped for a per-term max — the
    # upper bound gates against the same double-expression shapes.
    oracles["q115_bm25_max_score"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKS} AS w FROM documents WHERE length({_NORM}) > 0
        ),
        s AS (
          SELECT count(*)::BIGINT AS n,
                 sum(len(w))::DOUBLE / count(*) AS avgdl
          FROM base
        ),
        pos AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM base),
        m AS (
          SELECT term, doc_id, dl, count(*)::BIGINT AS tf
          FROM pos WHERE term != ''
          GROUP BY 1, 2, 3
        ),
        d AS (SELECT term, count(*)::BIGINT AS df FROM m GROUP BY 1),
        c AS (
          SELECT m.term, d.df,
                 CAST(round(
                   ln((CAST(s.n AS DOUBLE) - df + 0.5::DOUBLE)
                      / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                   * ((tf::DOUBLE * 2.2::DOUBLE)
                      / (tf::DOUBLE + 1.2::DOUBLE
                         * (0.25::DOUBLE + 0.75::DOUBLE * dl::DOUBLE / s.avgdl)))
                   * 1000000.0::DOUBLE, 0) AS BIGINT) AS cu
          FROM m JOIN d USING (term), s
        )
        SELECT term, max(df)::BIGINT AS df, max(cu)::BIGINT AS ub_u
        FROM c GROUP BY 1 ORDER BY term
    """
    # q116: the three gated laws composed — Hamilton quotas over lang
    # (q104 arithmetic), the k-smallest-(hash60, id) selection (q78
    # law), then q60's card totals over exactly the selected rows.
    oracles["q116_language_balanced_mix"] = f"""
        WITH c AS (
          SELECT lang, count(*)::BIGINT AS n_items FROM documents GROUP BY 1
        ),
        b AS (
          SELECT lang, n_items,
                 (250 * n_items) // (SELECT sum(n_items) FROM c) AS base,
                 (250 * n_items) % (SELECT sum(n_items) FROM c) AS rem
          FROM c
        ),
        q AS (
          SELECT lang,
                 base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC)
                             <= (SELECT 250 - sum(base) FROM b)
                        THEN 1 ELSE 0 END AS quota
          FROM b
        ),
        r AS (
          SELECT d.doc_id, d.lang, d.text,
                 row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY ('0x' || substr(md5('quota-1' || d.doc_id::VARCHAR), 1, 15))::BIGINT,
                            d.doc_id
                 ) AS rk,
                 q.quota
          FROM documents d JOIN q ON d.lang = q.lang
        ),
        s AS (SELECT * FROM r WHERE rk <= quota)
        SELECT lang, count(*)::BIGINT AS n_docs,
               sum({_N_TOKS})::BIGINT AS n_tokens,
               sum(length(text))::BIGINT AS n_chars
        FROM s GROUP BY 1 ORDER BY lang
    """
    # q117: merge(build(A), build(B)) ≡ build(A ∪ B) — the oracle IS
    # q70's full-corpus build (same min_df=2, same posting string law).
    oracles["q117_index_segment_merge"] = oracles["q70_inverted_index"]
    # q118: the fixed-stride law re-derived — n_chunks−1 = ceil(max(n−64,
    # 0)/48) via generate_series (inclusive upper bound), // ≡ DIV on
    # the non-negative domain by construction.
    oracles["q118_rag_chunk_windows"] = f"""
        WITH sized AS (
          SELECT doc_id, ({_N_TOKS})::BIGINT AS n FROM documents
        ),
        pos AS (
          SELECT doc_id, n,
                 unnest(generate_series(
                   0, (greatest(n - 64, 0) + 47) // 48)) AS chunk_id
          FROM sized WHERE n > 0
        )
        SELECT doc_id, chunk_id::BIGINT AS chunk_id,
               (chunk_id * 48)::BIGINT AS start,
               least(64, n - chunk_id * 48)::BIGINT AS length
        FROM pos ORDER BY doc_id, chunk_id
    """
    # q119: the shark-search evidence law over the shared anchor graph —
    # per-link (parent·8500) // 10000 + distinct-term hits · 250000,
    # per-dst MAX; src%97 products promote to BIGINT (doc_id is BIGINT).
    oracles["q119_focused_crawl_priority"] = f"""
        WITH links AS ({_ANCHOR_LINKS_SQL}),
        h AS (
          SELECT dst, src,
                 (list_contains(string_split(lower(anchor), ' '), 'spark')::BIGINT
                  + list_contains(string_split(lower(anchor), ' '), 'window')::BIGINT
                  + list_contains(string_split(lower(anchor), ' '), 'join')::BIGINT)
                   AS hits
          FROM links
        ),
        c AS (
          SELECT dst,
                 ((((src % 97) * 10000) * 8500) // 10000
                  + hits * 250000) AS contrib
          FROM h
        )
        SELECT dst::BIGINT AS dst, count(*)::BIGINT AS n_inlinks,
               max(contrib)::BIGINT AS priority_micro
        FROM c GROUP BY 1 ORDER BY dst
    """
    # q120: same (ts, digest) tie law; latest digest re-derived via a
    # DESC row_number (≡ Spark's max (us, digest) struct); epoch_us on
    # the UTC-cast timestamp (the TIMESTAMP_NTZ law).
    oracles["q120_capture_index"] = """
        WITH cap AS (
          SELECT 'https://p/' || user_id AS url, ts,
                 md5(event_type) AS digest
          FROM events
        ),
        o AS (
          SELECT url, epoch_us(ts) AS us, digest,
                 lag(digest) OVER (PARTITION BY url ORDER BY ts, digest)
                   AS prev
          FROM cap
        ),
        last AS (
          SELECT url, digest FROM (
            SELECT url, digest,
                   row_number() OVER (
                     PARTITION BY url ORDER BY us DESC, digest DESC) AS rn
            FROM o
          ) WHERE rn = 1
        )
        SELECT o.url, count(*)::BIGINT AS n_captures,
               count(DISTINCT o.digest)::BIGINT AS n_digests,
               sum(CASE WHEN prev IS NOT NULL AND prev != o.digest
                        THEN 1 ELSE 0 END)::BIGINT AS n_changes,
               min(us)::BIGINT AS first_us,
               max(us)::BIGINT AS last_us,
               min(l.digest) AS last_digest
        FROM o JOIN last l ON o.url = l.url
        GROUP BY o.url ORDER BY o.url
    """
    # q121: q79's gated pricing composed with the language rollup;
    # centi ratio = DIV of the two gated sums on non-negative operands.
    oracles["q121_tokenizer_fertility"] = f"""
        WITH t AS (
          SELECT doc_id, n_bpe_tokens
          FROM ({oracles["q79_bpe_encode_stats"]})
        ),
        j AS (
          SELECT d.lang, d.n_chars::BIGINT AS nc, t.n_bpe_tokens::BIGINT AS nt
          FROM documents d JOIN t USING (doc_id)
        )
        SELECT lang, count(*)::BIGINT AS n_docs,
               sum(nc)::BIGINT AS n_chars,
               sum(nt)::BIGINT AS n_bpe_tokens,
               ((100 * sum(nc)) // sum(nt))::BIGINT AS chars_per_token_centi
        FROM j GROUP BY 1 ORDER BY lang
    """
    # q122: same plant, same canonical token stream, same drop-on-any-
    # hit law; DuckDB list comprehensions are 1-BASED, so 3-gram i runs
    # 1..len-2 with the inclusive [i : i+2] slice.
    oracles["q122_badwords_filter"] = f"""
        WITH d AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 17 = 0 THEN ' zorblax' ELSE '' END
                 || CASE WHEN doc_id % 23 = 0 THEN ' grim flagged phrase'
                         ELSE '' END AS text
          FROM documents
        ),
        t AS (SELECT doc_id, {_TOKS} AS w FROM d),
        hits AS (
          SELECT doc_id,
                 len(list_filter(w, x -> x = 'zorblax'))::BIGINT
                 + CASE WHEN len(w) >= 3 THEN
                     len(list_filter(
                       [array_to_string(w[i : i + 2], ' ')
                        for i in generate_series(1, len(w) - 2)],
                       g -> g = 'grim flagged phrase'))::BIGINT
                   ELSE 0 END AS n_hits
          FROM t
        )
        SELECT doc_id, n_hits, (n_hits = 0) AS keep
        FROM hits ORDER BY doc_id
    """
    # q123: both stage boundaries recomputed from the SAME gated CTEs
    # (gopher kept + the full q51 composition as a subquery).
    oracles["q123_cleaning_funnel"] = f"""
        WITH {_GOPHER_KEPT_CTES},
        surv AS (
          SELECT doc_id FROM ({oracles["q51_clean_corpus_pipeline"]})
        ),
        n0 AS (SELECT count(*)::BIGINT AS n FROM documents),
        n1 AS (SELECT count(*)::BIGINT AS n FROM kept),
        n2 AS (SELECT count(*)::BIGINT AS n FROM surv)
        SELECT * FROM (
          SELECT 1::BIGINT AS stage_id, 'gopher_quality' AS stage,
                 n0.n AS n_in, n1.n AS n_out,
                 (n0.n - n1.n)::BIGINT AS n_dropped
          FROM n0, n1
          UNION ALL
          SELECT 2::BIGINT, 'span_dedup_exact_dedup', n1.n, n2.n,
                 (n1.n - n2.n)::BIGINT
          FROM n1, n2
        ) ORDER BY stage_id
    """
    # q124: the zone-map law per candidate, UNION ALL — width =
    # span // 64 + 1 (both engines compute it from the same integer
    # min/max), envelopes and the intersect test all-integer.
    _prune_branch = """
        SELECT '{k}' AS sort_key,
               count(*)::BIGINT AS n_groups,
               sum(CASE WHEN mnp <= {hi} AND mxp >= {lo}
                        THEN 1 ELSE 0 END)::BIGINT AS groups_scanned,
               sum(n)::BIGINT AS rows_total,
               sum(CASE WHEN mnp <= {hi} AND mxp >= {lo}
                        THEN n ELSE 0 END)::BIGINT AS rows_scanned,
               ((10000 * sum(CASE WHEN mnp <= {hi} AND mxp >= {lo}
                                  THEN n ELSE 0 END)) // sum(n))::BIGINT
                 AS scan_bp
        FROM (
          SELECT (({k} - s.mn) // ((s.mx - s.mn) // 64 + 1)) AS grp,
                 min(epoch_us(ts)) AS mnp, max(epoch_us(ts)) AS mxp,
                 count(*)::BIGINT AS n
          FROM events,
               (SELECT min({k}) AS mn, max({k}) AS mx FROM events) s
          GROUP BY 1
        )
    """
    _lo, _hi = 1_704_844_800_000_000, 1_705_104_000_000_000
    oracles["q124_layout_pruning_report"] = (
        _prune_branch.format(k="event_id", lo=_lo, hi=_hi)
        + " UNION ALL "
        + _prune_branch.format(k="user_id", lo=_lo, hi=_hi)
        + " ORDER BY sort_key"
    )
    # q125: the robots law re-derived — policy CASE over h%4 (absent
    # hosts = default-allow), deny-if-any-prefix-matches for the rules
    # branch, crawl_delay only where a rules host defines one.
    oracles["q125_robots_gate"] = """
        WITH u AS (
          SELECT doc_id, doc_id % 20 AS h,
                 'h' || (doc_id % 20) || '.robo.net' AS host,
                 CASE doc_id % 3
                   WHEN 0 THEN '/private/p' || doc_id
                   WHEN 1 THEN '/pub/p' || doc_id
                   ELSE '/tmp/xy' || doc_id END AS path
          FROM documents
        ),
        k AS (
          SELECT 'https://' || host || path AS url, host,
                 CASE WHEN h % 4 = 2 THEN ((h // 4) + 1)::DOUBLE
                      ELSE NULL END AS crawl_delay,
                 CASE WHEN h % 4 = 0 THEN TRUE
                      WHEN h % 4 = 1 THEN FALSE
                      WHEN h % 4 = 3 THEN TRUE
                      ELSE NOT (starts_with(path, '/private')
                                OR starts_with(path, '/tmp/x'))
                 END AS allowed
          FROM u
        )
        SELECT url, host, crawl_delay FROM k WHERE allowed ORDER BY url
    """
    # q126: the refresh contract — the incremental diff→remove→delta→
    # merge pipeline must equal the q70-style FULL REBUILD over the new
    # corpus state (same token law, same posting string law, min_df=2).
    oracles["q126_incremental_index_refresh"] = f"""
        WITH d AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 7 = 0
                              THEN ' updated fresh content' ELSE '' END AS text
          FROM documents
        ),
        pos AS (
          SELECT doc_id, u.x AS term, u.i - 1 AS pos
          FROM (SELECT doc_id,
                       unnest(list_transform({_TOKS}, (x, i) -> {{'x': x, 'i': i}})) AS u
                FROM d
                WHERE length({_NORM}) > 0)
        ),
        perdoc AS (
          SELECT term, doc_id, count(*)::BIGINT AS tf,
                 string_agg(pos::VARCHAR, '|' ORDER BY pos) AS plist
          FROM pos GROUP BY 1, 2
        )
        SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf,
               string_agg(doc_id::VARCHAR || ':' || plist, ',' ORDER BY doc_id)
                 AS postings
        FROM perdoc GROUP BY 1
        HAVING count(*) >= 2
        ORDER BY term
    """
    return oracles
