"""Statistical language-model scoring for webtext quality filtering.

The CCNet/KenLM-family signal: documents whose token stream is
improbable under a corpus-trained n-gram model are boilerplate,
gibberish, or generated spam. Here: an add-one-smoothed bigram model
trained ON THE CORPUS ITSELF (self-perplexity), scored per document as
average negative log-likelihood over its bigrams.

Cross-engine exactness: per-bigram NLL is rounded to integer
MICRO-NATS (round(-ln(p)·1e6) → long) BEFORE the per-doc sum, so the
aggregation is integer arithmetic — immune to float summation order
(Spark sums partitions in nondeterministic order; a raw double sum can
differ in the last ulp from DuckDB's sequential fold and flip a
rounded value). The ln itself matches bit-for-bit (both engines call
libm; established by q50's tf-idf gate).

Scale shape (10^10 docs): the unigram table is vocab-sized —
broadcastable after a frequency floor; the bigram-count join is the one
big shuffle, keyed by the bigram string whose Zipf head is exactly the
AQE skew-join case. Per-doc aggregation re-shuffles only
(doc_id, micro-NLL) longs. Training and scoring are the same two
passes here; a frozen-model variant broadcasts the count tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textkit
from .shape import spread


def bigram_lm_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc (n_bigrams, avg_nll) under the corpus-trained add-one
    bigram model: P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V). Docs with fewer
    than two tokens have no bigrams and emit no row."""
    text = F.col(text_col)
    docs = spread(docs)  # parallelize the explodes past a 1-split scan (r8)
    uni_stream = docs.select(
        F.explode(F.split(textkit.normalized(text), " ")).alias("t")
    )
    # materialize BEFORE the eager |V| count: without it the count job
    # and the scored join each run their own full explode+groupBy over
    # the corpus. localCheckpoint (not persist): checkpointed blocks
    # are freed by the ContextCleaner when the DataFrame is GC'd, so
    # repeated calls in one session don't pin vocab-sized tables in
    # executor storage forever
    uni = uni_stream.groupBy("t").agg(F.count("*").alias("c1"))
    uni = uni.localCheckpoint(eager=True)
    vocab = uni.count()  # one scalar to the driver — the |V| constant

    # one shared bigram exchange (r8, guide §2.4): the count aggregation
    # and the join back both consume the explicit repartition("bg")
    # (identical exchange subtrees — AQE shuffle-stage reuse computes
    # the explode once per materialization instead of twice); the
    # vocab-sized unigram table carries an explicit broadcast hint so
    # the join strategy is the contract, not a size estimate over the
    # checkpointed RDD
    big = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(textkit.word_shingles(text, 2)).alias("bg"),
    ).repartition("bg")
    bgc = big.groupBy("bg").agg(F.count("*").alias("c12"))
    scored = (
        big.join(bgc, "bg")
        .withColumn("t", F.split(F.col("bg"), " ")[0])
        .join(F.broadcast(uni), "t")
        .select(
            "doc_id",
            F.round(
                -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.lit(float(vocab))))
                * 1e6,
                0,
            ).cast("long").alias("micro_nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum("micro_nll") / (F.count("*") * 1e6), 4).alias("avg_nll"),
    )


@dataclass
class FrozenBigramLM:
    """Driver-held add-one bigram model: unigram / bigram count tables +
    the |V| smoothing constant. ``min_count`` flooring at train time
    bounds the table size (standard n-gram pruning; CCNet ships its
    KenLM models to every worker the same way) — |V| is counted BEFORE
    flooring so smoothing matches the unfloored model."""

    uni: dict
    big: dict
    vocab: int


def _count_tables(docs: DataFrame, text_col: str, min_count: int):
    """The two floored count aggregations + unfloored |V| shared by the
    dict and table trainers (flooring AFTER the vocab count so
    smoothing matches the unfloored model)."""
    text = F.col(text_col)
    uni = (
        docs.select(F.explode(F.split(textkit.normalized(text), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c1"))
        .localCheckpoint(eager=True)
    )
    vocab = uni.count()
    if min_count > 1:
        uni = uni.filter(F.col("c1") >= min_count)
    bgc = (
        docs.select(F.explode(textkit.word_shingles(text, 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("c12"))
    )
    if min_count > 1:
        bgc = bgc.filter(F.col("c12") >= min_count)
    return uni, bgc, vocab


def train_bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_entries: int = 20_000_000,
) -> FrozenBigramLM:
    """Train once: the same two count aggregations bigram_lm_scores
    runs, collected into driver dicts. The dict form is right for
    floored/sampled training sets; distinct bigrams on an UNFLOORED web
    corpus run to billions, so the collect is guarded — past
    ``max_entries`` total table rows it raises and points at
    train_bigram_lm_table, which persists the model as parquet and
    never moves counts through the driver."""
    uni, bgc, vocab = _count_tables(docs, text_col, min_count)
    bgc = bgc.localCheckpoint(eager=True)  # counted then collected — one compute
    n_entries = uni.count() + bgc.count()
    if n_entries > max_entries:
        raise ValueError(
            f"train_bigram_lm: {n_entries} floored table rows exceed "
            f"max_entries={max_entries}; a driver dict of this size is the "
            "wrong shape — use train_bigram_lm_table/score_bigram_lm_table "
            "(parquet model + map-side broadcast join), or raise min_count"
        )
    return FrozenBigramLM(
        uni={r["t"]: r["c1"] for r in uni.collect()},
        big={r["bg"]: r["c12"] for r in bgc.collect()},
        vocab=vocab,
    )


def train_bigram_lm_table(
    docs: DataFrame, path: str, text_col: str = "text", min_count: int = 1
) -> None:
    """Persist the frozen model AS TABLES: parquet (t, c1) / (bg, c12)
    count tables plus a one-row meta table holding |V|. Nothing ever
    collects to the driver — the counts stream executor-side from the
    aggregation into the writers, so the model size is bounded by disk,
    not driver memory. This is the production-honest 100 TB shape the
    dict variant's guard points at (the model file CCNet ships, as a
    table)."""
    uni, bgc, vocab = _count_tables(docs, text_col, min_count)
    uni.write.mode("overwrite").parquet(os.path.join(path, "uni"))
    bgc.write.mode("overwrite").parquet(os.path.join(path, "big"))
    docs.sparkSession.createDataFrame([(vocab,)], "vocab long").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "meta"))


def score_bigram_lm_frozen(
    docs: DataFrame,
    model: FrozenBigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score-only pass under a frozen model: ZERO wide shuffles — the
    plan is scan → JVM tokenize → one mapInPandas (model tables arrive
    via a Spark broadcast variable; lookups are C-speed pd.Series.map).
    This is the shape a 100 TB scoring pass actually uses: train once
    on a sample, broadcast the tables, stream the corpus through
    map-only tasks.

    Value parity with the self-trained path on the same corpus is exact
    (pytest-asserted): tokenization stays JVM-side (identical strings),
    per-bigram NLL is HALF_UP-rounded to integer micro-nats before the
    per-doc sum (np.floor(x+0.5) ≡ Spark F.round for the non-negative
    NLL), and the final avg is Decimal-quantized like F.round(_, 4)."""
    import numpy as np
    import pandas as pd

    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast((model.uni, model.big, float(model.vocab)))
    toks_df = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(textkit.normalized(F.col(text_col)), " ").alias("toks"),
    )

    def run(batches):
        from decimal import ROUND_HALF_UP, Decimal

        uni, big, v = bc.value
        q4 = Decimal("0.0001")
        for pdf in batches:
            ids, counts, flat_bg, flat_t1 = [], [], [], []
            for doc_id, toks in zip(pdf["doc_id"].tolist(), pdf["toks"].tolist()):
                n = len(toks) - 1
                if n < 1:
                    continue  # <2 tokens: no bigrams, no row (parity)
                ids.append(doc_id)
                counts.append(n)
                flat_t1.extend(toks[:-1])
                flat_bg.extend(
                    a + " " + b for a, b in zip(toks[:-1], toks[1:])
                )
            if not ids:
                continue
            c12 = pd.Series(flat_bg, dtype=object).map(big).fillna(0).to_numpy(float)
            c1 = pd.Series(flat_t1, dtype=object).map(uni).fillna(0).to_numpy(float)
            nll = -np.log((c12 + 1.0) / (c1 + v)) * 1e6
            micro = np.floor(nll + 0.5).astype(np.int64)  # HALF_UP, nll >= 0
            offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
            sums = np.add.reduceat(micro, offsets)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "n_bigrams": np.asarray(counts, dtype=np.int64),
                    "avg_nll": [
                        float(
                            Decimal(s / (n * 1e6)).quantize(q4, ROUND_HALF_UP)
                        )
                        for s, n in zip(sums.tolist(), counts)
                    ],
                }
            )

    return toks_df.mapInPandas(
        run, "doc_id long, n_bigrams long, avg_nll double"
    )


def score_bigram_lm_table(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_micro: bool = False,
) -> DataFrame:
    """Score under a parquet-persisted model (train_bigram_lm_table)
    via MAP-SIDE BROADCAST JOINS — the distributed twin of the
    driver-dict frozen path, with identical values (pytest parity):
    unseen bigrams/unigrams score as count 0 (left join + coalesce, ≡
    the dict path's fillna(0)), per-bigram NLL HALF_UP-rounds to
    integer micro-nats BEFORE the per-doc sum, final avg rounds to 4dp.

    Plan shape at 100 TB: the corpus side never exchanges for the
    model — both joins broadcast the floored count tables (explicitly
    hinted; plan-asserted BroadcastHashJoin) — and the only wide
    shuffle is the per-doc aggregation carrying (doc_id, micro_nll)
    longs, exactly the self-trained path's final regroup. Model size is
    bounded by the broadcast budget rather than driver dict memory; for
    tables past broadcast size, bucket both sides on the join key
    instead (same expressions, drop the hint)."""
    spark = docs.sparkSession
    uni = spark.read.parquet(os.path.join(path, "uni"))
    big = spark.read.parquet(os.path.join(path, "big"))
    vocab = int(
        spark.read.parquet(os.path.join(path, "meta")).collect()[0]["vocab"]
    )
    bgs = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(textkit.word_shingles(F.col(text_col), 2)).alias("bg"),
    )
    scored = (
        bgs.join(F.broadcast(big), "bg", "left")
        .withColumn("t", F.split(F.col("bg"), " ")[0])
        .join(F.broadcast(uni), "t", "left")
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(vocab)))
                )
                * 1e6,
                0,
            ).cast("long").alias("micro_nll"),
        )
    )
    aggs = [
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum("micro_nll") / (F.count("*") * 1e6), 4).alias("avg_nll"),
    ]
    if with_micro:
        # integer-exact consumer path (q107 tertiles): the raw
        # micro-nat sum, so downstream can compare docs without any
        # float (sum DIV n -- both operands non-negative).
        aggs.append(F.sum("micro_nll").cast("long").alias("sum_micro_nll"))
    return scored.groupBy("doc_id").agg(*aggs)
