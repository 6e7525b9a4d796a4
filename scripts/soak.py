"""Soak: the engine's gated operators at 10-100x bench scale, one tool.

Each registry entry times one operator at its gated operating point (or
a chain, such as q86 -> q89) and checks an invariant derived from its
generator. Entries share three inputs, each built at most once:

  docs   the replica corpus: each SPARK_GRAFT_SF_DIR document expanded
         into SPARK_GRAFT_SOAK_REPLICAS replicas (replica r > 0 rewrites
         every 8th token with a replica-salted md5 tag), so each source
         doc becomes a near-dup clique, as in a 10x web crawl. Written
         once to a temporary parquet (removed at exit) and re-read, so
         stage timings exclude the generator.
  vecs   each sf embedding times `replicas` near-identical twins.
  n_big  SPARK_GRAFT_SOAK_URLS synthetic rows; key-based sizes derive
         from it.

Run:  python scripts/soak.py [entry ...]    (default all; --help lists them)
Env:  SPARK_GRAFT_SF_DIR (read as bench.SF_DIR: the same sf0.1 default),
      SPARK_GRAFT_SOAK_REPLICAS (10), SPARK_GRAFT_SOAK_URLS (4000000),
      SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM (local[32] / 48g).

Prints one JSON line: `sf`, `n_docs`/`gen_s` and `n_vectors` once, then
the entries' keys under the names BENCH.md's soak rows use. r8's
`kmeans_k64_s` is gone: it timed the same k=64 clustering as
`q92_kmeans_s`, whose labels q92_q93 reuses. New keys print what a
check reads: q81_ub_violations, q82_ranks_missing, q83_max_shard_bytes,
q98_tokens_lost, q108_max_hub_micro, q108_max_auth_micro, q122_docs,
semdedup_rows, kmeans_k256_labels.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager
from functools import cached_property
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import SF_DIR  # noqa: E402
from outage_data_scraper_spark.frontier import (  # noqa: E402
    mirrors, priority, redirects, snapshot, traps,
)
from outage_data_scraper_spark.functions import textkit  # noqa: E402
from outage_data_scraper_spark.operators import (  # noqa: E402
    badwords, bpe, classifier, cluster, dedup, fingerprint, flac, graph, index,
    packing, quantiles, sampling, shards, sketch,
)
from outage_data_scraper_spark.plans import layout  # noqa: E402
from outage_data_scraper_spark.session import get_spark  # noqa: E402

# ------------------------------------------------------------ shared inputs


def build_corpus(spark, sf_dir: str, replicas: int):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_src = docs.count()
    rep = spark.range(replicas).withColumnRenamed("id", "rep")
    # doc_id stays unique and deterministic: source id * replicas + rep.
    toks = F.split(F.col("text"), " ")
    perturbed = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - F.lit(1)),
            lambda t, i: F.when(
                (F.col("rep") > 0) & (i % 8 == F.col("rep") % 8),
                F.concat(
                    F.lit("r"),
                    F.col("rep").cast("string"),
                    F.lit("_"),
                    F.substring(F.md5(t), 1, 6),
                ),
            ).otherwise(t),
        ),
        " ",
    )
    big = (
        docs.crossJoin(F.broadcast(rep))
        .select(
            (F.col("doc_id") * replicas + F.col("rep")).alias("doc_id"),
            perturbed.alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text"))
    )
    return big, n_src


@contextmanager
def timed(out: dict, key: str):
    """Store the block's wall seconds (one decimal) as out[key]."""
    t0 = time.monotonic()
    yield
    out[key] = round(time.monotonic() - t0, 1)


class Inputs:
    """The shared inputs of one run, each built at most once. `out`
    collects the run-level keys (n_docs, gen_s, n_vectors)."""

    def __init__(self, spark, sf_dir: str, replicas: int, n_big: int, tmp_dir: str):
        self.spark, self.sf_dir, self.replicas = spark, sf_dir, replicas
        self.n_big, self.tmp_dir = n_big, tmp_dir
        self.out: dict = {}

    @cached_property
    def docs(self):
        with timed(self.out, "gen_s"):
            big, n_src = build_corpus(self.spark, self.sf_dir, self.replicas)
            path = os.path.join(self.tmp_dir, "docs.parquet")
            big.repartition(64).write.mode("overwrite").parquet(path)
            docs = self.spark.read.parquet(path)
            n_docs = docs.count()
        assert n_docs == n_src * self.replicas, (n_docs, n_src, self.replicas)
        self.out["n_docs"] = n_docs
        return docs

    @cached_property
    def vecs(self):
        emb = self.spark.read.parquet(os.path.join(self.sf_dir, "embeddings.parquet"))
        rep = self.spark.range(self.replicas).withColumnRenamed("id", "rep")
        vecs = (
            emb.crossJoin(F.broadcast(rep))
            .select(
                (F.col("vec_id") * self.replicas + F.col("rep")).alias("vec_id"),
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x, i: x
                    * (
                        F.lit(1.0)
                        + (i % F.lit(2)).cast("double")
                        * F.col("rep").cast("double")
                        * F.lit(0.0005)
                    ),
                ).alias("embedding"),
            )
            .localCheckpoint(eager=True)
        )
        self.out["n_vectors"] = int(vecs.count())
        return vecs


# ---------------------------------------------------------------- registry


class Soak(NamedTuple):
    name: str
    desc: str
    sizes: tuple[str, ...]  # shared inputs built before the entry's timer
    build: Callable[[Inputs, dict], None]  # times the op, fills the JSON keys
    check: Callable[[dict, Inputs], bool] | None  # sanity, over those keys


REGISTRY: dict[str, Soak] = {}
DOCS, VECS, N_BIG = ("docs",), ("vecs",), ("n_big",)


def soak(name: str, desc: str, sizes: tuple[str, ...] = (), check=None):
    """Register the decorated builder as entry `name` (registry order is
    definition order)."""

    def register(fn):
        REGISTRY[name] = Soak(name, desc, sizes, fn, check)
        return fn

    return register


@soak("q49", "span_dedup(span_tokens=4, df_min=5)", DOCS,
      lambda r, i: r["q49_rows"] == i.out["n_docs"])
def soak_q49(inp: Inputs, out: dict) -> None:
    with timed(out, "q49_s"):
        sd = dedup.span_dedup(inp.docs, span_tokens=4, df_min=5)
        agg = sd.agg(
            F.count("*").alias("rows"),
            F.sum("n_removed").alias("removed"),
            F.sum("n_spans").alias("spans"),
        ).collect()[0]
    out["q49_rows"] = agg["rows"]
    out["q49_spans"] = int(agg["spans"])
    out["q49_removed"] = int(agg["removed"])


@soak("q47", "ngram_jaccard_pairs(k=3, j>=0.12) -> connected_components", DOCS,
      # every replica clique collapses: fewer components than nodes
      lambda r, i: 0 < r["q47_components"] < r["q47_nodes"])
def soak_q47(inp: Inputs, out: dict) -> None:
    with timed(out, "q47_s"):
        pairs = dedup.ngram_jaccard_pairs(inp.docs, k_shingle=3, min_jaccard=0.12)
        pairs = pairs.localCheckpoint()
        n_pairs = pairs.count()
        comp = dedup.connected_components(pairs)  # q47's min-label kernel
        n_comp = comp.select("label").distinct().count()
        n_nodes = comp.count()
    out["q47_pairs"] = n_pairs
    out["q47_nodes"] = n_nodes
    out["q47_components"] = n_comp


@soak("q51", "gopher filter -> span dedup -> exact dedup -> hash split", DOCS,
      lambda r, i: 0 < r["q51_survivors"] <= i.out["n_docs"])
def soak_q51(inp: Inputs, out: dict) -> None:
    with timed(out, "q51_s"):
        toked = inp.docs.select(
            "doc_id", "text", textkit.tokens(F.col("text")).alias("toks")
        )
        kept = toked.filter(textkit.gopher_keep(F.col("text"), F.col("toks"))).select(
            "doc_id", "text"
        )
        cleaned = dedup.span_dedup(kept, span_tokens=4, df_min=5).select(
            "doc_id", F.md5("clean_text").alias("clean_sig")
        )
        canon = cleaned.groupBy("clean_sig").agg(F.min("doc_id").alias("canonical_id"))
        surv = cleaned.join(canon, "clean_sig").filter(
            F.col("doc_id") == F.col("canonical_id")
        )
        final = surv.select(
            "doc_id", sampling.split_column(F.col("doc_id")).alias("split"), "clean_sig"
        )
        splits = {
            r["split"]: r["n"]
            for r in final.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
    out["q51_survivors"] = sum(splits.values())
    out["q51_splits"] = splits


@soak("q63", "duplicated_substring_spans(w=8, min_count=2) on shifted copies", DOCS)
def soak_q63(inp: Inputs, out: dict) -> None:
    with timed(out, "q63_s"):
        spans = dedup.duplicated_substring_spans(inp.docs, window_tokens=8, min_count=2)
        agg = spans.agg(
            F.count("*").alias("rows"), F.sum("n_dup_spans").alias("dup_spans")
        ).collect()[0]
    out["q63_rows"], out["q63_dup_spans"] = agg["rows"], int(agg["dup_spans"])


@soak("q20", "minhash_lsh_candidates (xxhash64 signature fold)", DOCS)
def soak_q20(inp: Inputs, out: dict) -> None:
    with timed(out, "q20_s"):
        cands = dedup.minhash_lsh_candidates(inp.docs)
        out["q20_pairs"] = cands.count()


@soak("q68", "train_bpe(30 merges): one corpus pass, then driver-side O(vocab) rounds", DOCS)
def soak_q68(inp: Inputs, out: dict) -> None:
    with timed(out, "q68_s"):
        merges = bpe.train_bpe(inp.docs, 30)
        out["q68_merges"] = merges.count()


@soak("q70", "build_inverted_index(min_df=2)", DOCS)
def soak_q70(inp: Inputs, out: dict) -> None:
    with timed(out, "q70_s"):
        inv = index.build_inverted_index(inp.docs, min_df=2)
        agg = inv.agg(
            F.count("*").alias("terms"), F.sum("total_tf").alias("tf")
        ).collect()[0]
    out["q70_terms"], out["q70_total_tf"] = agg["terms"], int(agg["tf"])


@soak("q71", "bm25_topk({spark, window, join}, top_k=20)", DOCS)
def soak_q71(inp: Inputs, out: dict) -> None:
    with timed(out, "q71_s"):
        top = index.bm25_topk(inp.docs, ["spark", "window", "join"], top_k=20)
        top = top.collect()
    out["q71_rows"] = len(top)


@soak("q81", "cms_table + broadcast cms_estimate over corpus tokens", DOCS,
      lambda r, i: r["q81_ub_violations"] == 0)
def soak_q81(inp: Inputs, out: dict) -> None:
    with timed(out, "q81_cms_s"):
        toks = inp.docs.filter(F.length(F.trim("text")) > 0).select(
            F.explode(textkit.tokens(textkit.normalized(F.col("text")))).alias("term")
        )
        table = sketch.cms_table(toks, "term")
        cand = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact"))
        est = sketch.cms_estimate(table, cand.select("term"), "term")
        row = (
            est.join(cand, "term")
            .agg(
                F.count("*").alias("terms"),
                F.sum((F.col("est_cnt") >= F.col("exact")).cast("int")).alias("ub_ok"),
            )
            .collect()[0]
        )
    out["q81_terms"] = int(row["terms"])
    out["q81_ub_violations"] = int(row["terms"]) - int(row["ub_ok"])


@soak("q82", "exact_order_stats of n_chars at 5 ranks (B=1024)", DOCS,
      lambda r, i: r["q82_ranks_missing"] == 0)
def soak_q82(inp: Inputs, out: dict) -> None:
    with timed(out, "q82_quantiles_s"):
        n = inp.docs.count()
        ranks = sorted({1, n // 4, n // 2, (3 * n) // 4, n})
        got = quantiles.exact_order_stats(
            inp.docs, "n_chars", ranks, n_buckets=1024, tiebreak_col="doc_id"
        ).collect()
    out["q82_ranks_missing"] = len(ranks) - len(got)
    out["q82_median_n_chars"] = int(
        {r.rank: r.value for r in got}[ranks[len(ranks) // 2]]
    )


@soak("q83", "plan_shards(8 MiB shards) + manifest: two-level prefix sum", DOCS,
      # a shard overshoots its budget by at most one document
      lambda r, i: r["q83_max_shard_bytes"]
      <= (8 << 20) + i.docs.agg(F.max("n_chars")).collect()[0][0])
def soak_q83(inp: Inputs, out: dict) -> None:
    with timed(out, "q83_shards_s"):
        plan = shards.plan_shards(
            inp.docs, "n_chars", "doc_id", shard_bytes=8 << 20, chunk=4096
        )
        man = shards.shard_manifest(plan, "doc_id")
        mrow = man.agg(
            F.count("*").alias("shards"), F.max("bytes").alias("max_bytes")
        ).collect()[0]
    out["q83_n_shards"] = int(mrow["shards"])
    out["q83_max_shard_bytes"] = int(mrow["max_bytes"])


@soak("flac", "decode_flac via mapInPandas: the Arrow-batched audio decode rate")
def soak_flac(inp: Inputs, out: dict) -> None:
    clips = []
    for i in range(64):
        rng = np.random.default_rng(i)
        t = np.arange(1600) / 8000.0
        w = (np.clip(0.6 * np.sin(2 * np.pi * (200 + i * 31) * t)
                     + 0.1 * rng.standard_normal(1600), -1, 1) * 32767)
        clips.append(flac.encode_flac(w.astype(np.int32), 8000, block_size=512,
                                      use_lpc=bool(i % 2)))
    n_clips = 64 * inp.replicas * 4
    payloads = inp.spark.createDataFrame(
        [(i, clips[i % 64]) for i in range(n_clips)], "i long, payload binary"
    ).repartition(32)

    def dec(batches):
        for b in batches:
            ns = []
            for p in b["payload"]:
                samples, _, _ = flac.decode_flac(bytes(p))
                ns.append(len(samples))
            yield pd.DataFrame({"n": ns})

    t0 = time.monotonic()
    total = payloads.mapInPandas(dec, "n long").agg(F.sum("n")).collect()[0][0]
    wall = time.monotonic() - t0
    out["flac_clips"] = n_clips
    out["flac_decode_s"] = round(wall, 1)
    out["flac_samples_per_s"] = int(total / wall)


@soak("q85", "winnow_fingerprints(k=4, w=4): the zero-shuffle Arrow pass", DOCS,
      # selection density ~2/(w+1) of shingles, never more than all
      lambda r, i: 0 < r["q85_density"] <= 1)
def soak_q85(inp: Inputs, out: dict) -> None:
    docs = inp.docs
    with timed(out, "q85_winnow_s"):
        fps = fingerprint.winnow_fingerprints(docs, k=4, w=4)
        n_fps = fps.count()
    out["q85_fingerprints"] = int(n_fps)
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    n_shingles = (
        docs.select(F.greatest(F.size(F.split(norm, " ")) - 3, F.lit(0)).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    out["q85_density"] = round(n_fps / max(n_shingles, 1), 4)


@soak("q86_q89", "fingerprint_overlap(max_df=50) -> connected_components", DOCS,
      lambda r, i: r["q86_pairs"] > 0)
def soak_q86_q89(inp: Inputs, out: dict) -> None:
    with timed(out, "q86_overlap_s"):
        pairs = fingerprint.fingerprint_overlap(
            inp.docs, k=4, w=4, min_shared=2, max_df=50
        ).localCheckpoint(eager=True)
        n_pairs = pairs.count()
    out["q86_pairs"] = int(n_pairs)

    with timed(out, "q89_cc_s"):
        comp = dedup.connected_components(pairs.select("id_a", "id_b"))
        n_clustered = comp.count()
        n_clusters = comp.select("label").distinct().count()
    out["q89_clustered_docs"] = int(n_clustered)
    out["q89_clusters"] = int(n_clusters)


@soak("q87", "remove_duplicated_spans(w=8, min_count=2)", DOCS)
def soak_q87(inp: Inputs, out: dict) -> None:
    with timed(out, "q87_remove_s"):
        rem = dedup.remove_duplicated_spans(inp.docs, window_tokens=8, min_count=2)
        row = rem.agg(
            F.sum("orig_tokens").alias("orig"),
            F.sum("removed_tokens").alias("cut"),
        ).collect()[0]
    out["q87_removed_frac"] = round(int(row["cut"]) / int(row["orig"]), 4)


@soak("q96", "nb_quality_scores trained on gopher-rule labels", DOCS)
def soak_q96(inp: Inputs, out: dict) -> None:
    with timed(out, "q96_nb_s"):
        toked = inp.docs.withColumn("__gtoks", textkit.tokens(F.col("text")))
        label = textkit.gopher_keep(F.col("text"), F.col("__gtoks"))
        nb = classifier.nb_quality_scores(toked, label)
        nrow = nb.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("predicted_keep").cast("long")).alias("kept"),
        ).collect()[0]
    out["q96_predicted_keep_frac"] = round(int(nrow["kept"]) / int(nrow["n"]), 4)


@soak("q92_q93", "kmeans_micro(k=64) -> semdedup -> semdedup(labels=q92's)", VECS,
      # replicas are near-identical twins: most non-canonical ones drop,
      # and reusing the labels must reproduce the self-clustering result
      lambda r, i: r["q92_vectors"] == i.out["n_vectors"]
      and r["q93_dropped"] > i.out["n_vectors"] // 2
      and r["semdedup_rows"] == i.out["n_vectors"]
      and r["semdedup_dropped"] == r["q93_dropped"])
def soak_q92_q93(inp: Inputs, out: dict) -> None:
    vecs = inp.vecs
    with timed(out, "q92_kmeans_s"):
        km = cluster.kmeans_micro(vecs, k=64, n_iter=2).localCheckpoint(eager=True)
        n_lab = km.count()
    out["q92_vectors"] = int(n_lab)

    with timed(out, "q93_semdedup_s"):
        sd = cluster.semdedup(vecs, k=64, n_iter=2, tau=0.999)
        srow = sd.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("keep")).cast("long")).alias("dropped"),
        ).collect()[0]
    out["q93_dropped"] = int(srow["dropped"])

    # the reuse path: cluster once (q92's labels), dedup from the labels
    with timed(out, "semdedup_label_reuse_s"):
        sd = cluster.semdedup(vecs, k=64, n_iter=2, tau=0.999, labels=km)
        srow = sd.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("keep")).cast("long")).alias("dropped"),
        ).collect()[0]
    out["semdedup_dropped"] = int(srow["dropped"])
    out["semdedup_rows"] = int(srow["n"])


@soak("q92_k256", "kmeans_micro(k=256) via the broadcast centroid array", VECS,
      lambda r, i: r["kmeans_k256_labels"] == i.out["n_vectors"])
def soak_q92_k256(inp: Inputs, out: dict) -> None:
    with timed(out, "kmeans_k256_table_s"):
        km256 = cluster.kmeans_micro(inp.vecs, k=256, n_iter=2, max_literal_cells=0)
        n256 = km256.count()
    out["kmeans_k256_labels"] = int(n256)


@soak("q98", "pack_sequences over 500k synthetic doc sizes; tokens conserved",
      check=lambda r, i: r["q98_tokens_lost"] == 0)
def soak_q98(inp: Inputs, out: dict) -> None:
    sized = (
        inp.spark.range(500_000)
        .select(
            F.col("id").alias("doc_id"),
            (F.pmod(F.col("id") * 2654435761, F.lit(1500)) + 1).alias("n_tok"),
        )
        .localCheckpoint(eager=True)
    )
    with timed(out, "q98_pack_s"):
        seqs = packing.pack_sequences(
            sized, "n_tok", "doc_id", seq_len=2048, chunk=4096
        )
        tok_packed = seqs.agg(F.sum("n_tokens")).collect()[0][0]
    out["q98_sequences"] = seqs.count()
    tok_in = sized.agg(F.sum("n_tok")).collect()[0][0]
    out["q98_tokens_lost"] = int(tok_in) - int(tok_packed)


@soak("q99", "chunk_dedup_keep_first at replica density", DOCS)
def soak_q99(inp: Inputs, out: dict) -> None:
    with timed(out, "q99_chunk_dedup_s"):
        kept = dedup.chunk_dedup_keep_first(inp.docs)
        row = kept.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_spans").alias("spans"),
            F.sum("n_dropped").alias("dropped"),
        ).collect()[0]
    out["q99_docs_out"] = int(row["n"])
    out["q99_dropped_frac"] = round(int(row["dropped"]) / int(row["spans"]), 4)


@soak("q100", "resolve_redirects over n_big chains (pointer doubling)", N_BIG)
def soak_q100(inp: Inputs, out: dict) -> None:
    nodes = inp.spark.range(inp.n_big).select(F.col("id").alias("src"))
    edges = nodes.select(
        "src", (F.col("src") - 1 - (F.col("src") % 3)).alias("dst")
    ).filter((F.col("src") % 13 != 0) & (F.col("dst") >= 0))
    with timed(out, "q100_redirects_s"):
        resolved = redirects.resolve_redirects(edges, "src", "dst", max_hops=64)
        mx = resolved.agg(F.max("hops")).collect()[0][0]
    out["q100_chains"] = resolved.count()
    out["q100_max_hops"] = int(mx)


Q101_MIN_DISTINCT = 500


def q101_planted_traps(n_big: int) -> int:
    """id % 1000 == h pins id % 5 and id % 40, so each of the 200 hosts
    with h % 5 == 0 mints one distinct session/N URL per id below n_big
    on it, and every other host's page URLs collapse to one. A trap is a
    session host reaching Q101_MIN_DISTINCT."""
    return sum(
        len(range(h, n_big, 1000)) >= Q101_MIN_DISTINCT for h in range(0, 1000, 5)
    )


@soak("q101", "detect_traps over n_big URLs, exact and approx (HLL)", N_BIG,
      lambda r, i: r["q101_traps_exact"] == q101_planted_traps(i.n_big))
def soak_q101(inp: Inputs, out: dict) -> None:
    urls = inp.spark.range(inp.n_big).select(
        F.concat(
            F.lit("https://h"),
            F.pmod(F.col("id"), F.lit(1000)).cast("string"),
            F.lit(".example.com/"),
            F.when(
                F.pmod(F.col("id"), F.lit(5)) == 0,
                F.concat(F.lit("session/"), F.col("id").cast("string")),
            ).otherwise(
                F.concat(
                    F.lit("page/p"),
                    F.pmod(F.col("id"), F.lit(40)).cast("string"),
                )
            ),
        ).alias("url")
    )
    for mode, approx in (("exact", False), ("approx", True)):
        with timed(out, f"q101_traps_{mode}_s"):
            found = traps.detect_traps(
                urls, min_distinct=Q101_MIN_DISTINCT, approx=approx
            )
            n_traps = found.count()
        out[f"q101_traps_{mode}"] = int(n_traps)


@soak("q105", "snapshot_diff over two n_big-key signature snapshots", N_BIG,
      # every key but the k % 143 == 0 ones is in some snapshot
      lambda r, i: r["q105_changed"] + r["q105_unchanged"] + r["q105_new"]
      + r["q105_gone"] > i.n_big * 0.99)
def soak_q105(inp: Inputs, out: dict) -> None:
    base = inp.spark.range(inp.n_big).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("sig")
    )
    old = base.filter(F.col("k") % 11 != 0)
    new = (
        base.filter(F.col("k") % 13 != 0)
        .select(
            "k",
            F.when(
                F.col("k") % 7 == 0, F.md5(F.concat(F.lit("x"), F.col("sig")))
            )
            .otherwise(F.col("sig"))
            .alias("sig"),
        )
    )
    with timed(out, "q105_diff_s"):
        stats = {
            r["status"]: r["n_keys"]
            for r in snapshot.snapshot_diff_stats(
                snapshot.snapshot_diff(old, new, "k", "sig")
            ).collect()
        }
    out["q105_changed"] = int(stats.get("changed", 0))
    out["q105_unchanged"] = int(stats.get("unchanged", 0))
    out["q105_new"] = int(stats.get("new", 0))
    out["q105_gone"] = int(stats.get("gone", 0))


@soak("q108", "hits_micro, 3 rounds, n_big/4 hosts / n_big edges", N_BIG,
      lambda r, i: r["q108_max_hub_micro"] == r["q108_max_auth_micro"] == 1_000_000)
def soak_q108(inp: Inputs, out: dict) -> None:
    spark, n_big = inp.spark, inp.n_big
    hosts = spark.range(n_big // 4).select(F.col("id").alias("node"))
    hedges = (
        spark.range(n_big)
        .select(
            F.pmod(F.col("id") * 48271, F.lit(n_big // 4)).alias("src"),
            F.pmod(F.col("id") * 16807 + 7, F.lit(n_big // 4)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    with timed(out, "q108_hits_s"):
        ranks = graph.hits_micro(hedges, hosts, n_iter=3)
        top = ranks.agg(
            F.max("hub_micro").alias("mh"), F.max("auth_micro").alias("ma")
        ).collect()[0]
    out["q108_nodes"] = hosts.count()
    out["q108_max_hub_micro"] = int(top["mh"])
    out["q108_max_auth_micro"] = int(top["ma"])


@soak("q112", "pop_wave(domain_budget) with a mega-registrant on 30% of rows", N_BIG,
      # the wave fills its budget; the quota prices the mega registrant at
      # its pooled share, well under the whole wave
      lambda r, i: r["q112_popped"] == i.n_big // 10 and r["q112_mega_share_bp"] < 5000)
def soak_q112(inp: Inputs, out: dict) -> None:
    n_hosts, budget = inp.n_big // 40, inp.n_big // 10
    # hosts h0..h{n_hosts-1}; registrants: host DIV 10 for most (10 hosts
    # per domain), but the first 30% of rows all land on megacorp.com
    dom = F.when(
        F.col("id") % 10 < 3, F.lit("megacorp.com")
    ).otherwise(
        F.concat(F.lit("d"), F.expr(f"(id % {n_hosts}) DIV 10"), F.lit(".com"))
    )
    host = F.concat(
        F.lit("h"), (F.col("id") % n_hosts).cast("string"), F.lit("."), dom
    )
    fr = (
        inp.spark.range(inp.n_big)
        .select(
            F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("id")).alias("url"),
            host.alias("host"),
            (F.col("id") % 7).cast("double").alias("priority"),
            F.lit(0).alias("depth"),
            (F.col("id") % 11).cast("int").alias("event_seq"),
            F.col("id").cast("int").alias("seed_seq"),
            F.lit(0).alias("child_seq"),
        )
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    with timed(out, "q112_domain_pop_s"):
        popped = priority.pop_wave(
            fr, per_host_k=50, num_parts=256, domain_budget=budget
        )
        mega = popped.filter(F.col("host").endswith(".megacorp.com")).count()
        total = popped.count()
    out["q112_popped"] = int(total)
    out["q112_mega_share_bp"] = int(10000 * mega / total)


@soak("q113", "hop_distance over a binary-tree spine + shortcut edges", N_BIG,
      lambda r, i: r["q113_reached"] == i.n_big // 4)  # the spine reaches all
def soak_q113(inp: Inputs, out: dict) -> None:
    spark, n_nodes = inp.spark, inp.n_big // 4
    tree = spark.range(1, n_nodes).select(
        F.expr("id DIV 2").alias("src"), F.col("id").alias("dst")
    )
    extra = spark.range(3 * n_nodes).select(
        F.pmod(F.col("id") * 48271, F.lit(n_nodes)).alias("src"),
        F.pmod(F.col("id") * 16807 + 7, F.lit(n_nodes)).alias("dst"),
    )
    seeds = spark.range(1).select(F.col("id").alias("node"))
    with timed(out, "q113_bfs_s"):
        dist = graph.hop_distance(tree.unionByName(extra), seeds, max_rounds=40)
        row = dist.agg(
            F.count(F.lit(1)).alias("n"), F.max("dist").alias("ecc")
        ).collect()[0]
    out["q113_reached"] = int(row["n"])
    out["q113_eccentricity"] = int(row["ecc"])


@soak("q114", "detect_mirrors: planted pairs + a boilerplate sig on every host",
      N_BIG, lambda r, i: r["q114_pairs"] == (i.n_big // 200) // 2)
def soak_q114(inp: Inputs, out: dict) -> None:
    spark, n_big = inp.spark, inp.n_big
    n_hosts = n_big // 200
    per_host = n_big // n_hosts
    pages = (
        spark.range(n_big)
        .select(
            F.concat(F.lit("m"), (F.col("id") % n_hosts).cast("string")).alias(
                "host"
            ),
            F.md5(
                F.when(
                    (F.expr(f"id DIV {n_hosts}") + F.col("id")) % 5 == 0,
                    F.concat(
                        F.lit("own/"),
                        (F.col("id") % n_hosts).cast("string"),
                        F.lit("/"),
                        F.expr(f"id DIV {n_hosts}").cast("string"),
                    ),
                ).otherwise(
                    F.concat(
                        F.lit("mir/"),
                        F.expr(f"(id % {n_hosts}) DIV 2").cast("string"),
                        F.lit("/"),
                        F.expr(f"id DIV {n_hosts}").cast("string"),
                    )
                )
            ).alias("sig"),
        )
        .unionByName(
            spark.range(n_hosts).select(
                F.concat(F.lit("m"), F.col("id").cast("string")).alias("host"),
                F.md5(F.lit("common")).alias("sig"),
            )
        )
    )
    with timed(out, "q114_mirrors_s"):
        pairs = mirrors.detect_mirrors(pages, min_shared=per_host // 4, max_df=2)
        n_pairs = pairs.count()
    out["q114_pairs"] = int(n_pairs)


@soak("q115", "bm25_max_score_table", DOCS)
def soak_q115(inp: Inputs, out: dict) -> None:
    with timed(out, "q115_max_score_s"):
        ms = index.bm25_max_score_table(inp.docs)
        out["q115_vocab"] = ms.count()


@soak("q117", "merge_inverted_index of two segments, parity vs rebuild", DOCS,
      lambda r, i: r["q117_parity_mismatches"] == 0)
def soak_q117(inp: Inputs, out: dict) -> None:
    docs = inp.docs
    with timed(out, "q117_merge_s"):
        base = index.build_inverted_index(docs.filter(F.col("doc_id") % 3 != 0))
        delta = index.build_inverted_index(docs.filter(F.col("doc_id") % 3 == 0))
        merged = index.merge_inverted_index(base, delta, min_df=2).localCheckpoint(
            eager=True
        )
        n_terms = merged.count()
    out["q117_terms"] = int(n_terms)
    # parity vs the full rebuild (the q117 law at soak scale)
    full = index.build_inverted_index(docs, min_df=2)
    diff = merged.unionByName(full).groupBy(
        "term", "df", "total_tf", "postings"
    ).count().filter(F.col("count") != 2).count()
    out["q117_parity_mismatches"] = int(diff)


@soak("q122", "badwords_filter with planted 1- and 3-token phrases", DOCS,
      lambda r, i: r["q122_docs"] == i.out["n_docs"] and r["q122_dropped"] > 0)
def soak_q122(inp: Inputs, out: dict) -> None:
    planted = inp.docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 17 == 0, F.lit(" zorblax")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 23 == 0, F.lit(" grim flagged phrase")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    with timed(out, "q122_badwords_s"):
        flagged = badwords.badwords_filter(planted, ("zorblax", "grim flagged phrase"))
        row = flagged.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("keep")).cast("long")).alias("dropped"),
        ).collect()[0]
    out["q122_dropped"] = int(row["dropped"])
    out["q122_docs"] = int(row["n"])


@soak("q124", "pruning_report: time-correlated vs uncorrelated sort key", N_BIG,
      lambda r, i: r["q124_seq_scan_bp"] < 1500 and r["q124_rand_scan_bp"] == 10000)
def soak_q124(inp: Inputs, out: dict) -> None:
    n_big = inp.n_big
    ev = (
        inp.spark.range(n_big)
        .select(
            F.col("id").alias("seq_key"),
            F.pmod(F.col("id") * 48271, F.lit(100_000)).alias("rand_key"),
            # probe column correlated with seq_key (event time)
            (F.col("id") * 37 + F.pmod(F.col("id"), F.lit(1000))).alias("ts_us"),
        )
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    lo = 37 * (n_big // 2)
    hi = 37 * (n_big // 2 + n_big // 20)
    with timed(out, "q124_layout_s"):
        rep = {
            r.sort_key: (r.groups_scanned, r.n_groups, r.scan_bp)
            for r in layout.pruning_report(
                ev, ["seq_key", "rand_key"], F.col("ts_us"), lo=lo, hi=hi
            ).collect()
        }
    out["q124_seq_scan_bp"] = rep["seq_key"][2]
    out["q124_rand_scan_bp"] = rep["rand_key"][2]


@soak("q126", "incremental index refresh vs full rebuild, ~14% churn", DOCS,
      lambda r, i: r["q126_parity_mismatches"] == 0)
def soak_q126(inp: Inputs, out: dict) -> None:
    docs = inp.docs
    old = docs.select("doc_id", "text")
    new = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" updated fresh content")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).localCheckpoint(eager=True)
    base = index.build_inverted_index(old).localCheckpoint(eager=True)  # pre-existing
    with timed(out, "q126_incremental_s"):
        diff = snapshot.snapshot_diff(
            old.select("doc_id", F.md5("text").alias("sig")),
            new.select("doc_id", F.md5("text").alias("sig")),
            "doc_id",
            "sig",
        )
        changed = diff.filter(F.col("status") == "changed").select("doc_id")
        compacted = index.remove_docs_from_index(base, changed)
        delta = index.build_inverted_index(new.join(changed, "doc_id"))
        merged = index.merge_inverted_index(compacted, delta, min_df=2).localCheckpoint(
            eager=True
        )
        out["q126_terms"] = merged.count()
    with timed(out, "q126_full_rebuild_s"):
        full = index.build_inverted_index(new, min_df=2).localCheckpoint(eager=True)
        full.count()
    mismatches = (
        merged.unionByName(full)
        .groupBy("term", "df", "total_tf", "postings")
        .count()
        .filter(F.col("count") != 2)
        .count()
    )
    out["q126_parity_mismatches"] = int(mismatches)


def run(spark, names, sf_dir: str, replicas: int, n_big: int) -> dict:
    """Run the named entries (all when empty, in registry order); return
    the JSON row. Raises AssertionError on the first failed sanity check."""
    sf = os.path.basename(os.path.normpath(sf_dir))
    head = {"sf": "%s x %d replicas / %gM rows" % (sf, replicas, n_big / 1e6)}
    rows: dict = {}
    tmp = tempfile.mkdtemp(prefix="soak_")
    try:
        inp = Inputs(spark, sf_dir, replicas, n_big, tmp)
        for s in REGISTRY.values():
            if names and s.name not in names:
                continue
            for size in s.sizes:
                getattr(inp, size)
            row: dict = {}
            s.build(inp, row)
            if s.check is not None and not s.check(row, inp):
                raise AssertionError(f"soak {s.name}: sanity check failed: {row}")
            rows.update(row)
        head.update(inp.out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {**head, **rows}


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        epilog="entries (sizes: shared inputs the entry reads):\n"
        + "\n".join(
            f"  {s.name:9s} [{','.join(s.sizes) or '-'}] {s.desc}"
            for s in REGISTRY.values()
        ),
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("entries", nargs="*", metavar="entry",
                    help="registry entries to run (default: all)")
    names = ap.parse_args().entries
    unknown = sorted(set(names) - set(REGISTRY))
    if unknown:
        ap.error(f"unknown entries {unknown}; see --help")

    # 10x inputs OOM the default 8g heap; the caller may still override
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(app_name="soak", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    out = run(
        spark,
        names,
        sf_dir=SF_DIR,
        replicas=int(os.environ.get("SPARK_GRAFT_SOAK_REPLICAS", "10")),
        n_big=int(os.environ.get("SPARK_GRAFT_SOAK_URLS", "4000000")),
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
