"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``     brute-force exact top-k against a query vector:
                      F.zip_with dot product + F.aggregate — JVM-side,
                      one pass, one global top-k (no full sort at scale:
                      Spark's TakeOrderedAndProject handles LIMIT+ORDER).
- ``lsh_bucket``      random-hyperplane signature column — the scale
                      path: bucket by signature, probe only matching /
                      neighboring buckets, rerank exactly.
- ``ann_topk_lsh``    bucketed ANN: candidates from the query's bucket
                      (multi-probe over hamming-1 neighbors), exact
                      rerank. Recall < 1 by construction; brute force is
                      the correctness oracle.
- ``embedding_near_dup_pairs``  cosine ≥ τ pair mining with coarse
                      LSH blocking so the join never goes O(n²).

Hyperplanes are generated from a fixed seed driver-side and embedded as
literal arrays — deterministic across runs and cluster sizes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _lit_vec(v) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def _rerank_topk(
    df: DataFrame, id_col: str, vec: Column, query: list[float], k: int, digits: int = 6
) -> DataFrame:
    """The exact re-rank every top-k search ends in: cosine to the query
    as a literal array, rounded to ``digits``, ranked on the ROUNDED
    score with an id tiebreak so both engines select identical rows (the
    q50 rule)."""
    q = _lit_vec(query)
    return (
        df.select(F.col(id_col), F.round(cosine(vec, q), digits).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk(
    emb: DataFrame, query: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``."""
    v = F.col(vec_col).cast("array<double>")
    return _rerank_topk(emb, id_col, v, query, k)


def make_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(vec_col: Column, planes: np.ndarray) -> Column:
    """Signature int: bit i = sign(vec · plane_i). Same-bucket vectors are
    cosine-close with probability rising in their angle."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        sig = sig + F.when(_dot(vec_col, _lit_vec(p)) > 0, F.lit(2**i).cast("long")).otherwise(0)
    return sig


def _lsh_probes(query: list[float], planes: np.ndarray, multiprobe: bool) -> list[int]:
    """The query's signature bucket, plus its hamming-1 neighbors when
    ``multiprobe`` (one flipped bit per plane)."""
    qsig = 0
    for i, p in enumerate(planes):
        if float(np.dot(query, p)) > 0:
            qsig |= 1 << i
    return [qsig] + ([qsig ^ (1 << i) for i in range(len(planes))] if multiprobe else [])


def ann_topk_lsh(
    emb: DataFrame, query: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 12, seed: int = 42, multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: filter to the query's LSH bucket (± hamming-1
    probes), then exact rerank. At scale the bucket column is a partition
    key, so the probe is a partition-pruned scan, not a full pass."""
    planes = make_hyperplanes(len(query), n_planes, seed)
    probes = _lsh_probes(query, planes, multiprobe)
    v = F.col(vec_col).cast("array<double>")
    bucketed = emb.withColumn("__bucket", lsh_bucket(v, planes))
    cands = bucketed.filter(F.col("__bucket").isin(probes))
    return _rerank_topk(cands, id_col, v, query, k)


# -- IVF: k-means coarse quantizer + probed search ----------------------------

def kmeans_centroids(
    emb: DataFrame, k: int = 16, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic mini k-means, DataFrame-native: initial centroids are
    the k rows with the smallest xxhash64(id) (a deterministic
    pseudo-random sample, always exactly min(k, n) rows); each Lloyd step
    is one assign pass (argmin over broadcast centroid literals) + one
    elementwise-mean aggregation via posexplode. Everything JVM-side; the
    driver only holds k×dim floats."""
    # Deterministic pseudo-random init: the k rows with the smallest
    # xxhash64(id). Always yields exactly min(k, n) centroids (the old
    # monotonically_increasing_id + pmod sampling could under-provision:
    # mii is non-contiguous across partitions), and compiles to
    # TakeOrderedAndProject — a per-partition top-k merge, no global sort.
    init_rows = (
        emb.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = np.array([[float(x) for x in r[0]] for r in init_rows])
    v = F.col(vec_col).cast("array<double>")
    for _ in range(iters):
        assigned = emb.withColumn("__c", _nearest_centroid(v, centroids))
        means = (
            assigned.select("__c", F.posexplode(v).alias("pos", "x"))
            .groupBy("__c", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = centroids.copy()
        for r in means:
            new[r["__c"]][r["pos"]] = r["m"]
        centroids = new
    return centroids


def _nearest_centroid(v: Column, centroids: np.ndarray) -> Column:
    """argmin_i ||v − c_i||² as pure column algebra: array_min over
    (distance, index) structs."""
    cands = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(v, _lit_vec(c), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(cands).getField("i")


def _ivf_probes(centroids: np.ndarray, query: list[float], n_probe: int) -> list[int]:
    """Ids of the ``n_probe`` centroids nearest the query (squared L2),
    nearest first."""
    q = np.asarray(query, dtype=float)
    order = np.argsort(((centroids - q) ** 2).sum(axis=1))
    return [int(i) for i in order[:n_probe]]


def ann_topk_ivf(
    emb: DataFrame, query: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_centroids: int = 16, n_probe: int = 4, iters: int = 3,
) -> DataFrame:
    """IVF search: coarse-quantize with k-means, scan only the query's
    ``n_probe`` nearest inverted lists, rerank exactly. At scale the
    cluster id is a partition key (SCALE.md) so probes are partition-
    pruned scans; recall is tuned by n_probe with brute force (cosine_
    topk) as the oracle."""
    centroids = kmeans_centroids(emb, n_centroids, iters, id_col, vec_col)
    probes = _ivf_probes(centroids, query, n_probe)
    v = F.col(vec_col).cast("array<double>")
    bucketed = emb.withColumn("__c", _nearest_centroid(v, centroids))
    cands = bucketed.filter(F.col("__c").isin(probes))
    return _rerank_topk(cands, id_col, v, query, k)


# -- persisted ANN index: bucket column as PARTITION KEY ----------------------
#
# ann_topk_lsh / ann_topk_ivf recompute bucket / centroid assignment over
# the full table per query — fine for a one-shot, a full scan at 10^10
# rows. The persisted index pays assignment ONCE at build time and makes
# the bucket a hive partition key, so every probe is a partition-pruned
# scan of just the probed buckets' files (asserted in
# tests/test_plans.py). Build is embarrassingly parallel (one narrow
# projection + partitioned write); queries touch n_probe/2^planes of the
# data. The meta sidecar pins (planes seed, dim | centroids) so query
# NEVER re-derives index geometry from data.

_ANN_META = "_ann_meta.json"


def _write_meta(path: str, meta: dict) -> None:
    import json
    import os

    with open(os.path.join(path, _ANN_META), "w") as f:
        json.dump(meta, f)


def _read_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, _ANN_META)) as f:
        return json.load(f)


def build_lsh_index(
    emb: DataFrame, path: str,
    n_planes: int = 12, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Persist the hyperplane-LSH ANN index: rows + signature bucket,
    written hive-partitioned BY the bucket (2^n_planes directories).
    Spark's parquet source prunes partition directories on bucket
    predicates, so query_lsh_index scans only probed buckets."""
    sample = emb.select(vec_col).first()
    dim = len(sample[0])
    planes = make_hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    (
        emb.withColumn("bucket", lsh_bucket(v, planes))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    _write_meta(path, {"kind": "lsh", "n_planes": n_planes, "seed": seed, "dim": dim})


def query_lsh_index(
    spark, path: str, query: list[float], k: int = 10,
    multiprobe: bool = True, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted LSH index: compute the query signature driver-
    side (k×dim floats), read ONLY the probe buckets' partitions, rerank
    exactly. Identical results to ann_topk_lsh at the same (n_planes,
    seed) — q45's oracle is q23's."""
    meta = _read_meta(path)
    planes = make_hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    probes = _lsh_probes(query, planes, multiprobe)
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    v = F.col(vec_col).cast("array<double>")
    return _rerank_topk(idx, id_col, v, query, k)


def build_ivf_index(
    emb: DataFrame, path: str,
    n_centroids: int = 16, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Persist the IVF ANN index: k-means once at build time, rows
    written hive-partitioned by their inverted-list id (``ivf_cell``);
    the centroid table itself rides in the meta sidecar (k×dim floats)."""
    centroids = kmeans_centroids(emb, n_centroids, iters, id_col, vec_col)
    v = F.col(vec_col).cast("array<double>")
    (
        emb.withColumn("ivf_cell", _nearest_centroid(v, centroids))
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(path)
    )
    _write_meta(
        path,
        {"kind": "ivf", "centroids": [[float(x) for x in c] for c in centroids]},
    )


def build_ivf_sq8_index(
    emb: DataFrame, path: str,
    n_centroids: int = 16, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Persist the QUANTIZED IVF ANN index — the 100 TB serving shape:
    k-means once at build time, rows written hive-partitioned by their
    inverted-list id (``ivf_cell``) exactly like build_ivf_index, but
    the stored vector column is the int8 SQ8 code array, NOT the float
    embedding — the probe's pruned scan reads ~4× fewer bytes (0..255
    codes bit-pack in parquet; float32/float64 arrays don't). Both the
    k×dim centroid table and the dim-sized (mn, scale) codebook ride in
    the meta sidecar, so a probe needs zero table reads before the
    pruned scan."""
    centroids = kmeans_centroids(emb, n_centroids, iters, id_col, vec_col)
    mns, scales = sq8_stats(emb, vec_col)
    v = F.col(vec_col).cast("array<double>")
    (
        emb.select(
            F.col(id_col),
            sq8_codes(F.col(vec_col), mns, scales).alias("codes"),
            _nearest_centroid(v, centroids).alias("ivf_cell"),
        )
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(path)
    )
    _write_meta(
        path,
        {
            "kind": "ivf_sq8",
            "centroids": [[float(x) for x in c] for c in centroids],
            "mns": mns,
            "scales": scales,
        },
    )


def query_ivf_sq8_index(
    spark, path: str, query: list[float], k: int = 10, n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted quantized IVF index: order centroids by
    distance driver-side, partition-pruned scan of the ``n_probe``
    nearest inverted lists reading only the int8 codes column,
    dequantized rerank with the sidecar codebook. The scoring math is
    byte-identical to sq8_cosine_topk (same quantize→midpoint-dequantize
    expression shapes, same symmetric quantized query, same 4dp-rounded
    ranking), so an exhaustive probe (n_probe = n_centroids) provably
    equals the quantized brute force — the q80 gate."""
    meta = _read_meta(path)
    centroids = np.asarray(meta["centroids"], dtype=float)
    mns, scales = meta["mns"], meta["scales"]
    probes = _ivf_probes(centroids, query, n_probe)
    idx = spark.read.parquet(path).filter(F.col("ivf_cell").isin(probes))
    deq = idx.select(
        F.col(id_col), sq8_dequantize(F.col("codes"), mns, scales).alias("deq")
    )
    return _rerank_topk(deq, id_col, F.col("deq"), _sq8_py(query, mns, scales), k, digits=4)


def query_ivf_index(
    spark, path: str, query: list[float], k: int = 10, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: order centroids by distance driver-
    side, partition-pruned scan of the ``n_probe`` nearest inverted
    lists, exact rerank."""
    meta = _read_meta(path)
    centroids = np.asarray(meta["centroids"], dtype=float)
    probes = _ivf_probes(centroids, query, n_probe)
    idx = spark.read.parquet(path).filter(F.col("ivf_cell").isin(probes))
    v = F.col(vec_col).cast("array<double>")
    return _rerank_topk(idx, id_col, v, query, k)


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 8, n_bands: int = 4, seed: int = 7,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold, blocked by BANDED
    hyperplane LSH: ``n_bands`` independent plane sets of ``n_planes``
    each; a pair becomes a candidate if it shares ANY band's bucket
    (OR-of-ANDs, same recall shape as minhash LSH banding). Candidates
    pair only within a (band, bucket) key, never n²; duplicates across
    bands collapse on (id_a, id_b).

    Per-band miss for a pair at angle θ is 1−(1−θ/π)^n_planes, so recall
    = 1−missᴮ: tune n_planes down / n_bands up for low thresholds (the
    synthetic sf tables top out near cos 0.5 → the (2, 8) pytest-only
    recall case), keep the defaults for true near-dup mining at τ≥0.9 —
    q36 registers the defaults over a twin-augmented corpus, since 2
    planes means 4 buckets/band → ~n²/4 candidates per band at scale.
    """
    sample = emb.select(vec_col).first()
    dim = len(sample[0])
    all_planes = make_hyperplanes(dim, n_planes * n_bands, seed)
    v = F.col(vec_col).cast("array<double>")
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                lsh_bucket(v, all_planes[i * n_planes : (i + 1) * n_planes]).alias("sig"),
            )
            for i in range(n_bands)
        ]
    )
    # norms ride along so the per-candidate work after the join is ONE
    # dot product; candidates dedupe across bands BEFORE that dot runs
    b = emb.select(
        F.col(id_col), v.alias("v"), _norm(v).alias("nrm"), F.explode(bands).alias("bb")
    ).select(id_col, "v", "nrm", F.col("bb.band").alias("band"), F.col("bb.sig").alias("sig"))
    l, r = b.alias("l"), b.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
            F.col("l.nrm").alias("na"),
            F.col("r.nrm").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def sq8_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, scale=max−min) over the corpus — the SQ8
    codebook. One Arrow-batched numpy pass: each partition emits a
    single (min-vector, max-vector) row and the driver folds the ~#tasks
    rows — no row explosion (posexplode materialized n·dim rows) and no
    giant aggregate list (2·dim agg expressions fall out of whole-stage
    codegen past 100 fields; measured 14 s interpreted vs 1.3 s here on
    50k×64). EXACTNESS: min/max do no arithmetic and float→double cast
    is monotone, so elementwise numpy min/max of the float32 values,
    cast after, equals the column-algebra form bit-for-bit — the q65
    oracle gates it. The collected result is dim-sized (the same
    driver-scale class as IVF centroids)."""
    import numpy as np
    import pandas as pd

    def _mm(batches):
        mn = mx = None
        for b in batches:
            if not len(b):
                continue
            a = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            bmn, bmx = a.min(axis=0), a.max(axis=0)
            mn = bmn if mn is None else np.minimum(mn, bmn)
            mx = bmx if mx is None else np.maximum(mx, bmx)
        if mn is not None:
            yield pd.DataFrame({"mn": [mn.tolist()], "mx": [mx.tolist()]})

    rows = (
        emb.select(vec_col)
        .mapInPandas(_mm, "mn array<double>, mx array<double>")
        .collect()
    )
    import builtins

    if not rows:
        raise ValueError("sq8_stats: empty embedding table")
    dim = len(rows[0].mn)
    mns = [builtins.min(r.mn[i] for r in rows) for i in range(dim)]
    mxs = [builtins.max(r.mx[i] for r in rows) for i in range(dim)]
    scales = [mxs[i] - mns[i] for i in range(dim)]
    return mns, scales


def sq8_codes(vec_col: Column, mns: list[float], scales: list[float]) -> Column:
    """Uniform int8 scalar quantization: code_i = clamp(floor((x_i −
    mn_i) / scale_i · 256), 0, 255). All-double arithmetic in the exact
    expression shape the DuckDB oracle mirrors (left-assoc ÷ then ·)."""
    d1 = F.zip_with(vec_col.cast("array<double>"), _lit_vec(mns), lambda x, m: x - m)
    return F.zip_with(
        d1,
        _lit_vec(scales),
        lambda d, s: F.when(
            s > 0,
            F.least(
                F.lit(255).cast("long"),
                F.greatest(F.lit(0).cast("long"), F.floor(d / s * F.lit(256.0))),
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .cast("int"),
    )


def sq8_dequantize(codes: Column, mns: list[float], scales: list[float]) -> Column:
    """Reconstruction at the cell midpoint: y_i = mn_i + (c_i + 0.5) ·
    scale_i / 256."""
    d1 = F.zip_with(
        codes,
        _lit_vec(scales),
        lambda c, s: (c.cast("double") + F.lit(0.5)) * s / F.lit(256.0),
    )
    return F.zip_with(d1, _lit_vec(mns), lambda a, m: a + m)


def _sq8_py(vec: list[float], mns: list[float], scales: list[float]) -> list[float]:
    """Driver-side quantize→dequantize of the query vector — Python
    doubles ARE IEEE doubles, and the expression shapes match sq8_codes/
    sq8_dequantize exactly, so the literal equals what either engine
    computes for the same vector."""
    import math

    out = []
    for x, m, s in zip(vec, mns, scales):
        c = min(255, max(0, math.floor((x - m) / s * 256.0))) if s > 0 else 0
        out.append(m + (c + 0.5) * s / 256.0)
    return out


def sq8_cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN over int8-SCALAR-QUANTIZED embeddings: codes are 4× smaller
    than float32 (the scan-side win — at 100 TB of embeddings the codes
    column is what a brute-force or IVF pass actually reads), the
    dim-sized (mn, scale) codebook broadcasts as literals, and the
    symmetric quantized cosine ranks within ~1 code-cell of exact.
    Deterministic end-to-end: ranking on the ROUNDED score + id tiebreak
    so both engines select identical rows (the q50/q22 rule)."""
    mns, scales = sq8_stats(emb, vec_col)
    codes = sq8_codes(F.col(vec_col), mns, scales)
    # hoist the reconstruction into its own projection: cosine()
    # references its argument three times (dot + both norms), and the
    # dequantize subtree must evaluate once per row, not three times
    deq = emb.select(
        F.col(id_col), sq8_dequantize(codes, mns, scales).alias("deq")
    )
    return _rerank_topk(deq, id_col, F.col("deq"), _sq8_py(query, mns, scales), k, digits=4)
