"""Deduplication family for web-scale training-data pipelines.

Five dedup modes over a documents table, each chosen for a different
scale/fidelity point:

- exact          md5-fingerprint groupBy (one shuffle, whole-stage codegen)
- minhash_lsh    shingle→minhash→band→bucket self-join (near-dup at scale;
                 candidates only pair within a band bucket, never O(n²))
- simhash        64-bit simhash + banded hamming join (bit_count native)
- ngram_jaccard  exact Jaccard over shingle sets via explode + self-join
                 (small/medium corpora; the verifier for minhash recall)
- embedding      cosine near-dup pairs (see similarity.py for the kernel)

All shingle/minhash hashing runs JVM-side (xxhash64 / md5 inside
higher-order functions) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textkit
from . import shape


# -- exact -------------------------------------------------------------------

def exact_dedup_map(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id): every doc mapped to the min-id doc sharing
    its normalized-text fingerprint. Keep rows where doc_id==canonical_id
    to materialize the deduped corpus."""
    fp = docs.select(
        F.col(id_col), textkit.fingerprint(F.col(text_col)).alias("fp")
    )
    canon = fp.groupBy("fp").agg(F.min(id_col).alias("canonical_id"))
    return fp.join(canon, "fp").select(id_col, "canonical_id")


# -- minhash + LSH -----------------------------------------------------------

def minhash_signature(
    text_col, k_shingle: int = 5, num_perm: int = 32, hash_fn: str = "xxhash64"
):
    """Column: minhash signature (array<long> for xxhash64, array<string>
    for md5). Permutation i is the independent hash family
    hash(shingle, i) — min over shingles.

    ``hash_fn='xxhash64'`` is the scale default (fastest JVM hash);
    ``'md5'`` (hash of "i,shingle", min over hex strings) exists because
    md5 is the only hash DuckDB shares — it makes the banded-LSH output
    value-exact against the q20 oracle without changing any semantics.

    Built as ONE fold over the shingle array (F.aggregate with an
    all-null init; least() skips nulls, so an empty shingle array
    yields the all-null signature the LSH universal-bucket guard keys
    on). The fold shape matters enormously: the previous form —
    num_perm separate array_min(transform(shingles, ...)) columns —
    referenced the word_shingles subtree once PER PERMUTATION, and
    Catalyst does not CSE a non-trivial subtree across HOF arguments
    in one projection, so the regex tokenizer + zip_with shingler ran
    32× per row (measured 344 s for a 50k-doc corpus; the fold runs
    it once: 11 s, bit-identical signatures). Per element the fold
    computes the num_perm hash family values and zip_with/least folds
    them into the running minima — exactly num_perm hashes per
    shingle, no shuffle, no explode.
    """
    shingles = textkit.word_shingles(text_col, k_shingle)
    if hash_fn == "md5":
        init = F.array(*[F.lit(None).cast("string")] * num_perm)

        def _hashes(s):
            return F.array(
                *[F.md5(F.concat(F.lit(f"{i},"), s)) for i in range(num_perm)]
            )

    else:
        init = F.array(*[F.lit(None).cast("long")] * num_perm)

        def _hashes(s):
            return F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_perm)])

    def _merge(acc, s):
        return F.zip_with(acc, _hashes(s), lambda a, b: F.least(a, b))

    return F.aggregate(shingles, init, _merge)


def minhash_signature_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 5,
    num_perm: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The (id, signature) stage of minhash LSH, pre-checkpoint: spread
    the (possibly 1-split) input round-robin, THEN run the signature
    fold, so the tokenizer parallelizes. Exposed separately because
    minhash_lsh_candidates checkpoints this boundary (truncating the
    plan), and the spread-before-signature shape must stay assertable."""
    return shape.spread(docs).select(
        F.col(id_col),
        minhash_signature(F.col(text_col), k_shingle, num_perm, hash_fn).alias("sig"),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 5,
    num_perm: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded minhash LSH,
    with the signature-estimated Jaccard attached.

    Scale shape: explode to (band_id, band_hash) keys → self-join per
    bucket. Bucket sizes are data-dependent; hot buckets are exactly the
    near-dup clusters we want, and AQE's skew-join handles the residue.

    ``hash_fn``: see minhash_signature — 'md5' makes the whole pipeline
    DuckDB-mirrorable (q20's value-exact oracle); 'xxhash64' is the
    scale default.
    """
    rows_per_band = num_perm // bands
    # localCheckpoint the signature table: the banded projection below
    # references `sig` 32× (bands × rows_per_band element_at calls) and
    # the self-join reads it from BOTH sides — CollapseProject re-inlines
    # the whole signature fold into every reference, recomputing the
    # shingle scan per band hash (measured on a 50k-doc corpus: 98.7 s
    # for pair mining vs 7.8 s with the boundary; identical output).
    # Lazy (eager=False): materializes at the first action, bounded at
    # num_perm longs + one id per doc. The checkpoint truncates lineage,
    # so the spread/projection plan shape is asserted on the pre-
    # checkpoint stage (minhash_signature_stage) in tests/test_plans.py.
    sig = minhash_signature_stage(
        docs, id_col, text_col, k_shingle, num_perm, hash_fn
    ).localCheckpoint(eager=False)

    # Guard docs that produce NO shingles (null text or < k_shingle
    # tokens): their signature is [null × num_perm], and since concat_ws
    # skips nulls every such doc would land in ONE universal bucket per
    # band — quadratic junk pairs at crawl scale. The guard lives INSIDE
    # the exploded array (empty array → explode drops the doc), NOT as a
    # filter() above this projection: a deterministic predicate filter
    # gets pushed below spread's repartition by Catalyst, re-running the
    # tokenizer serially on an unsplit input — the exact trap
    # ngram_jaccard_pairs documents. sig[1] is null iff no shingles
    # existed (array_min over an empty transform).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (F.md5 if hash_fn == "md5" else F.xxhash64)(
                    F.concat_ws(
                        ",", *[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    bh_type = "string" if hash_fn == "md5" else "bigint"
    guarded = F.when(F.element_at("sig", 1).isNotNull(), band_structs).otherwise(
        F.array().cast(f"array<struct<band:int,bh:{bh_type}>>")
    )
    banded = sig.select(
        id_col,
        "sig",
        F.explode(guarded).alias("bb"),
    ).select(id_col, "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            (
                F.size(
                    F.filter(
                        F.zip_with("l.sig", "r.sig", lambda a, b: (a == b).cast("int")),
                        lambda x: x == 1,
                    )
                )
                / F.size("l.sig")
            ).alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


# -- simhash ------------------------------------------------------------------

def simhash64(text_col, n_tokens_cap: int = 512, hash_fn: str = "xxhash64"):
    """Column: simhash of the token stream, built natively: per bit b,
    sign = Σ_tokens (bit b of hash(token) ? +1 : −1). Implemented as one
    aggregate expression per bit over the token array — heavy but
    JVM-side and codegen'd; cap tokens for bound cost.

    ``hash_fn='xxhash64'``: 64-bit simhash (scale default). ``'md5'``:
    60-bit simhash from the first 15 hex chars of md5(token) — md5 is
    the only hash DuckDB shares, and 15 hex chars (60 bits) is the
    widest slice that fits a signed BIGINT in both engines, so q21's
    oracle can mirror the sketch value-exact."""
    toks = F.slice(textkit.tokens(textkit.normalized(text_col)), 1, n_tokens_cap)
    if hash_fn == "md5":
        bits = 60
        hashes = F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        )
    else:
        bits = 64
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def _vote(bit: int):
        # closure factory: pyspark introspects lambda arity, so the bit
        # index must not be a default arg of the merge lambda itself
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_votes = [F.aggregate(hashes, F.lit(0), _vote(b)) for b in range(bits)]
    out = F.lit(0).cast("long")
    for b, v in enumerate(bit_votes):
        out = out + F.when(v > 0, F.lit(1).cast("long") * (2**b if b < 63 else -(2**63))).otherwise(0)
    return out


def simhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, found by
    banding the hash into equal bit chunks (64 bits → 8×8-bit chunks:
    pigeonhole guarantees ≤7 bit diffs share ≥1 chunk; the md5 mode's
    60 bits → 6×10-bit chunks, guaranteeing ≤5) and verifying with
    native bit_count."""
    n_chunks = 6 if hash_fn == "md5" else 8
    width = (60 if hash_fn == "md5" else 64) // n_chunks
    mask = (1 << width) - 1
    # localCheckpoint for the same reason as minhash_lsh_candidates: the
    # chunk projection references `sh` n_chunks times and the self-join
    # reads both sides — without the boundary the 60/64-aggregate vote
    # expression re-inlines into every reference
    sh = (
        shape.spread(docs)
        .select(
            F.col(id_col),
            simhash64(F.col(text_col), hash_fn=hash_fn).alias("sh"),
            F.size(textkit.tokens(textkit.normalized(F.col(text_col)))).alias(
                "__n_toks"
            ),
        )
        .localCheckpoint(eager=False)
    )
    # Empty-doc guard (zero tokens → zero votes → sh = 0 for EVERY empty
    # doc, one hamming-0 mega-cluster of blanks) lives INSIDE the
    # exploded array, like minhash: a filter() here would be pushed below
    # spread's repartition, serializing the tokenizer on 1-split inputs.
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned("sh", c * width).bitwiseAND(F.lit(mask)).alias("cv"),
            )
            for c in range(n_chunks)
        ]
    )
    guarded = F.when(F.col("__n_toks") >= 1, chunk_arr).otherwise(
        F.array().cast("array<struct<chunk:int,cv:bigint>>")
    )
    chunks = sh.select(
        id_col,
        "sh",
        F.explode(guarded).alias("cc"),
    ).select(id_col, "sh", F.col("cc.chunk").alias("chunk"), F.col("cc.cv").alias("cv"))
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# -- exact n-gram Jaccard ------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 5,
    min_jaccard: float = 0.8,
    df_max: int = 1000,
) -> DataFrame:
    """Exact Jaccard over distinct k-word shingles, DF-capped.

    Physical shape — exactly two wide shuffles, the heavy shingle
    projection evaluated ONCE:

    1. Project each doc to (id, n=|shingle set|, exploded shingle hash):
       xxhash64 shingles JVM-side; n rides along on every exploded row so
       no separate sizes table (and no join back) is ever needed.
    2. ``shape.pair_mine`` on the shingle hash: one shuffle on the
       shingle, df cap, co-occurrence pairs, one shuffle on the pair —
       count = |intersection|, set sizes come along. A shingle shared by
       >df_max docs is boilerplate; the cap is mirrored in the DuckDB
       oracle so q19 stays value-exact.
    3. Jaccard + threshold filter close the plan.

    Results are identical to the md5-based DuckDB oracle because only
    shingle *identity* feeds the counts.
    """
    # identity-only shingles: the token-hash chain (shingle_hash64)
    # replaces building each window string just to hash it (r8)
    arr = F.array_distinct(textkit.shingle_hash64(F.col(text_col), k_shingle))
    # No size(arr)>0 pre-filter: explode already drops empty/null arrays,
    # and Catalyst would push the filter BELOW the repartition — running
    # the whole shingle expression serially on the unsplit input just to
    # evaluate the predicate.
    sh = (
        shape.spread(docs)
        .select(F.col(id_col), arr.alias("arr"))
        .select(F.col(id_col), F.size("arr").alias("n"), F.explode("arr").alias("sh"))
    )
    inter = shape.pair_mine(sh, "sh", id_col, df_max, size="n")
    return inter.select(
        F.col("a").alias("id_a"),
        F.col("b").alias("id_b"),
        (F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup CLUSTERING: connected components over an undirected edge
    list — every node gets the MINIMUM node id reachable from it (the
    cluster's canonical document, the id a dedup pipeline keeps).

    Iterative min-label propagation: per round, each node takes the min
    of its own label and its neighbors' labels; converged when no label
    changes. Rounds = graph diameter; near-dup clusters are
    short-diameter (stars/cliques around a template), so 2–5 rounds are
    typical. Each round is two hash shuffles (join + groupBy) on the
    SAME key — per-round cost is O(|edges|), and the one driver-side
    value per round is the changed-label count (a scalar, never rows).
    For long-diameter graphs use connected_components_star
    (large-star/small-star, O(log² n) rounds, the same (node, label)
    contract).

    Returns (node, label). Nodes with no edges are absent — callers
    treat missing as singleton (label = own id). Raises RuntimeError if
    labels still change after ``max_iter`` rounds (a diameter past the
    cap), never returning partial labels.
    """
    bi = edges.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    bi = bi.union(bi.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        bi.groupBy("src").agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("nbr_min")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            bi.join(labels, bi.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("__old"),
            )
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
        changed = new.filter(F.col("label") != F.col("__old")).count()
        new = new.drop("__old")
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after max_iter="
            f"{max_iter} rounds (graph diameter exceeds the cap); use "
            f"connected_components_star, whose rounds are O(log² n)"
        )
    return labels


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 4,
    df_min: int = 5,
    keep_stats: bool = True,
) -> DataFrame:
    """C4-style corpus-wide duplicated-span removal (Raffel et al. 2020
    §2.2 drop repeated three-sentence spans; the unit here is a fixed
    ``span_tokens``-token chunk): any span whose exact text occurs in
    ≥ ``df_min`` DISTINCT documents is boilerplate and is cut from every
    document containing it; the survivors reassemble in document order.

    Plan shape: chunk (narrow posexplode) → span-DF count + join back
    on span text → per-doc reassembly on doc id — three exchanges
    (flat-by-span, counts agg, regroup-by-doc; counts' partitioning is
    reused by the join), no collect, per-doc state bounded by document
    length. At 100 TB the span-count table after the ≥df_min filter is
    the corpus' boilerplate DICTIONARY — tiny relative to the corpus —
    so the scale variant broadcasts it as an anti-join and drops the
    flat-side shuffle entirely.

    Returns (doc_id, n_spans, n_removed, clean_text); with
    ``keep_stats=False`` the 100-TB fast path runs instead — the
    ≥df_min spans (the corpus' boilerplate dictionary, tiny relative to
    the corpus) are BROADCAST as a left-anti join, the flat side never
    shuffles on span text, and the output is (doc_id, clean_text) —
    documents consisting ENTIRELY of boilerplate are dropped from the
    output (the C4 behavior), where the stats path keeps them with an
    empty clean_text.
    """
    from ..functions import textkit

    # tokenization HOISTED to a materialized column: expressions inside
    # higher-order-function lambdas re-evaluate PER ELEMENT (CLAUDE.md),
    # so referencing the raw split-expression from the span lambda would
    # re-tokenize the whole document once per span. No spread here: the
    # 4-token chunk projection is cheap enough that the round-robin
    # exchange costs more than the serialized map work it saves
    # (measured 0.50 vs 0.78 s at sf0.1, r8) — callers whose input is
    # already distributed (q51's pinned gopher filter) lose nothing
    base = docs.select(
        F.col(id_col),
        F.split(textkit.normalized(F.col(text_col)), " ").alias("__toks"),
    )
    tcol = F.col("__toks")
    # one span-unit construction for the whole engine (q49 ≡ q52):
    # posexplode recovers the in-doc position the reassembly sorts on
    flat = base.select(
        F.col(id_col),
        F.posexplode(textkit.span_chunks(tcol, span_tokens)).alias(
            "pos", "span_text"
        ),
    )
    if not keep_stats:
        counts = flat.groupBy("span_text").agg(
            F.count_distinct(F.col(id_col)).alias("df")
        )
        boiler = counts.filter(F.col("df") >= df_min).select("span_text")
        kept = flat.join(F.broadcast(boiler), "span_text", "left_anti")
        return kept.groupBy(id_col).agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("span_text")))
                    ),
                    lambda s: s["span_text"],
                ),
                " ",
            ).alias("clean_text")
        )
    # stats path (r8): key the span-DF count and the join back on the
    # 8-byte xxhash64 of the span (span identity only — the span STRING
    # rides the row for reassembly but never keys an exchange), and
    # repartition ONCE on that key so the count aggregation and the join
    # consume the same shuffle stage — the chunk projection over the
    # corpus runs once per materialization instead of twice (guide
    # §2.4; the q63 span core got the same restructure). count_distinct
    # plans its two-phase (sh, id)→(sh) aggregate on the co-partitioned
    # input with no further exchange.
    flat = flat.withColumn("__sh", F.xxhash64("span_text")).repartition("__sh")
    counts = flat.groupBy("__sh").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    joined = flat.join(counts, "__sh")
    keep = F.col("df") < df_min
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct(F.col("pos"), F.col("span_text")))
                    )
                ),
                lambda s: s["span_text"],
            ),
            " ",
        ).alias("clean_text"),
    )


def chunk_dedup_keep_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 4,
) -> DataFrame:
    """CCNet-style corpus-wide KEEP-FIRST dedup (Wenzek et al. 2020 §3
    "deduplicating paragraphs across shards, keeping one copy"; the
    unit here is q49's fixed ``span_tokens``-token chunk because the
    synthetic corpus has no paragraph breaks): every chunk whose exact
    text repeats anywhere in the corpus keeps exactly ONE instance —
    the globally first by (doc_id, pos) — and every later instance is
    cut; survivors reassemble in document order.

    Contrast with the other two dedup laws in this module: ``span_dedup``
    (C4) removes ALL instances once df ≥ df_min (including the first),
    and ``remove_duplicated_spans`` (ExactSubstr) cuts maximal repeated
    windows from every occurrence. Keep-first is the one that
    PRESERVES a canonical copy — the CCNet choice.

    Winner law: min over instances of the packed integer key
    ``doc_id * 2**24 + pos`` (requires pos < 2^24 — a 16M-chunk
    document — and doc_id < 2^39; asserted cheap on the driver-sized
    bound, identical expression in the DuckDB oracle so the tie rule
    is engine-exact).

    Plan shape (r8): chunk (narrow posexplode) → ONE exchange keyed on
    the 8-byte xxhash64 of the chunk text that both the min-key winner
    aggregation and the join back consume (explicit repartition +
    shuffle-stage reuse, the q49/q63 restructure — the chunk projection
    over the corpus ran twice per materialization before) → per-doc
    regroup. No collect; the winner table is distinct-chunk-sized,
    never broadcast (it is corpus-scale, unlike span_dedup's tiny
    ≥df_min dictionary).

    Returns (id_col, n_spans, n_dropped, clean_text); documents whose
    every chunk lost keep an empty clean_text (stats row preserved).
    """
    from ..functions import textkit

    # tokenization hoisted out of the HOF lambda (per-element
    # re-evaluation trap); no spread — the 4-token chunk
    # projection is cheaper than the round-robin exchange (r8, same
    # trade as span_dedup)
    base = docs.select(
        F.col(id_col),
        F.split(textkit.normalized(F.col(text_col)), " ").alias("__toks"),
    )
    flat = base.select(
        F.col(id_col),
        F.posexplode(textkit.span_chunks(F.col("__toks"), span_tokens)).alias(
            "pos", "span_text"
        ),
    )
    packed = (F.col(id_col) * F.lit(1 << 24) + F.col("pos")).alias("__key")
    keyed = flat.select(
        id_col, "pos", "span_text", packed
    ).withColumn("__sh", F.xxhash64("span_text")).repartition("__sh")
    winners = keyed.groupBy("__sh").agg(F.min("__key").alias("__win"))
    joined = keyed.join(winners, "__sh")
    keep = F.col("__key") == F.col("__win")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct(F.col("pos"), F.col("span_text")))
                    )
                ),
                lambda s: s["span_text"],
            ),
            " ",
        ).alias("clean_text"),
    )


def connected_components_star(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """The 10^10-edge scale path for near-dup clustering: alternating
    large-star / small-star rounds (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond") — converges in O(log² n) rounds
    on ANY graph, where plain min-label propagation needs O(diameter)
    (a 10^6-long chain of near-dup shingles would need 10^6 rounds).

    Both phases are pure relational algebra — groupBy(min) + join +
    union, NO collect_list, so a web-scale hub node (a boilerplate span
    shared by millions of docs) never materializes an adjacency list in
    one task:

      large-star(u):  m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
      small-star(u):  m = min(N≤(u) ∪ {u}); emit (v, m) for v ∈ N≤(u) ∪ {u}

    Convergence = the canonical edge set stops changing (checked by
    (count, xor-of-hashes) — two driver scalars per round, never rows).
    Result contract is identical to connected_components: (node, label)
    with label = the component's minimum id; parity-tested against it.
    Raises RuntimeError if the edge set still changes after ``max_iter``
    rounds.
    """
    e = (
        edges.select(
            F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(df: DataFrame) -> tuple[int, int]:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # xor, not sum: order-independent AND overflow-free under ANSI
            F.coalesce(
                F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)
            ).alias("h"),
        ).first()
        return int(r["n"]), int(r["h"])

    sig = signature(e)
    for _ in range(max_iter):
        adj = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: connect every strictly-larger neighbor to the min
        mins = adj.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            adj.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        e1 = (
            large.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
        )
        # small-star over e1: connect every ≤ neighbor (and u itself) to
        # the min of the small neighborhood
        adj1 = e1.union(e1.select(F.col("b").alias("a"), F.col("a").alias("b")))
        small_nbrs = adj1.filter(F.col("b") < F.col("a"))
        mins_s = small_nbrs.groupBy("a").agg(F.min("b").alias("m"))
        small = small_nbrs.join(mins_s, "a").select(
            F.col("b").alias("a"), F.col("m").alias("b")
        ).union(mins_s.select(F.col("a"), F.col("m").alias("b")))
        # localCheckpoint, not cache: each round's plan nests the
        # previous round's, and Catalyst analysis time on the nested
        # lineage grows faster than the data — checkpointing truncates
        # the logical plan every round (the standard iterative-graph
        # pattern)
        e2 = (
            small.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = signature(e2)
        e = e2
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star: edge set still changing after "
            f"max_iter={max_iter} rounds"
        )
    # converged: stars (v, m). label(v) = its min neighbor; the root m
    # labels itself
    adj = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return adj.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("label")
    ).select(F.col("a").alias("node"), "label")


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-corpus decontamination: per corpus doc, how many k-gram
    shingles it shares with a benchmark/eval set (the GPT-3 §C / PaLM
    style n-gram contamination check). Returns only contaminated docs:
    (doc_id, n_hits = overlapping shingle INSTANCES, n_shingles =
    DISTINCT overlapping shingles).

    Scale shape: eval sets are tiny (10^3–10^5 docs) next to a 10^10-doc
    corpus, so the distinct benchmark shingle set broadcasts — the
    corpus side is explode → broadcast-hash semi-probe → one groupBy on
    doc_id. No shuffle ever carries corpus text or the full shingle
    explosion; only (doc_id, shingle) survivors of the probe aggregate.
    """
    def shingled(df: DataFrame) -> DataFrame:
        # identity-only probe: hash-chain shingles, never window strings;
        # spread parallelizes the k-fold chain past a one-split scan
        # (r8 — A/B 1.19 s vs 0.48 s at sf0.1 for the k=5 chain)
        return shape.spread(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(textkit.shingle_hash64(F.col(text_col), k)).alias("s"),
        )

    bench = shingled(benchmark).select("s").distinct()
    hits = shingled(corpus).join(F.broadcast(bench), "s")
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hits"),
        F.countDistinct("s").cast("long").alias("n_shingles"),
    )


def _maximal_dup_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    w: int,
    min_count: int,
    spread: bool = True,
) -> DataFrame:
    """Maximal duplicated-substring spans per document as
    (doc_id, island, s, e, nw) rows — the shared core of the q63
    MEASUREMENT (duplicated_substring_spans) and the q87 REMOVAL
    (remove_duplicated_spans). s/e are 0-based token offsets,
    [s, e) half-open; spans within a doc are disjoint by the
    gaps-and-islands merge.

    Plan shape (r8): one narrow posexplode of the token-hash shingle
    chain (shingle_hash64 — no window STRING is ever built, 8 bytes per
    position instead of the ~8-token text); ONE wide shuffle keyed on
    the shingle hash that BOTH the count aggregation and the join back
    consume (explicit repartition("wh") → the two consumers share the
    exchange via Spark's shuffle-stage reuse, so the shingle projection
    over the corpus runs ONCE per materialization instead of twice —
    measured 2.8 s → 1.5 s at sf0.1, guide §2.4 "two operations keyed
    the same way can often share one exchange"); survivors regroup per
    document for the island merge. The count side reduces to ≥min_count
    keys (the duplicated-substring dictionary — tiny on a cleaned
    corpus; at bench scale AQE broadcasts it into the join, see
    plans/r08/q63_*_after.txt, and at dictionary sizes past broadcast
    the join is co-partitioned on the shared exchange with no further
    probe-side shuffle either way). A hot boilerplate key skews only a
    join partition, which AQE's skew-join splitting handles — unlike a
    count window, which would pin every occurrence of the hot key in
    one task with no runtime remedy.
    """
    flat = (shape.spread(docs) if spread else docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(textkit.shingle_hash64(F.col(text_col), w)).alias("pos", "wh"),
    ).repartition("wh")
    counts = (
        flat.groupBy("wh")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
        .select("wh")
    )
    dup = flat.join(counts, ["wh"]).select("doc_id", "pos")
    prior = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_end = F.max(F.col("pos") + w).over(prior)
    flagged = dup.withColumn(
        "flag",
        F.when(run_end.isNull() | (F.col("pos") > run_end), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    seq = Window.partitionBy("doc_id").orderBy("pos")
    islands = flagged.withColumn("island", F.sum("flag").over(seq))
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + w).alias("e"),
        F.count("*").alias("nw"),
    )


def duplicated_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
    min_count: int = 2,
    spread: bool = True,
) -> DataFrame:
    """ExactSubstr-style duplicated-substring measurement (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"
    §4.1): any ``window_tokens``-token sliding window whose exact text
    occurs at ≥ ``min_count`` positions ANYWHERE in the corpus
    (including elsewhere in the same document — the suffix-array
    semantics) is duplicated; per document, overlapping/adjacent
    duplicated windows merge into MAXIMAL spans. Unlike span_dedup
    (C4 disjoint-chunk boilerplate with a distinct-document threshold),
    this measures every position, so it catches shifted copies chunking
    misses.

    Returns one row per input document:
      (doc_id, n_dup_windows, n_dup_spans, dup_tokens, dup_frac)
    where dup_tokens is the total token coverage of the merged spans
    and dup_frac = dup_tokens / n_tokens (rounded 4dp).

    Plan shape — the distributed re-expression of the paper's
    suffix-array pass: sliding windows via one narrow posexplode
    (positions ARE window starts); ONE wide shuffle keyed on
    (xxhash64(window), length(window)) — 12 bytes per position instead
    of the ~8-token window STRING, which on a deduplicated corpus
    (mostly-unique windows, so map-side partial aggregation folds
    little) would carry roughly 8× the corpus bytes through the
    exchange — for the corpus-wide occurrence count (partial-aggregated
    map-side); survivors (a tiny fraction of positions on a cleaned
    corpus) regroup per document where a gaps-and-islands window merge
    (running max of span end) builds maximal intervals. Counting on
    (hash, length) is effectively exact: a false merge needs a 64-bit
    collision between two windows of identical byte length — at 10^12
    windows the expected number of colliding PAIRS is ~0.03, and a
    collision only ever over-counts a window toward min_count (never
    drops a real duplicate). Nothing ever materializes per-window
    lists; at 100 TB the count table after the ≥min_count filter is the
    duplicated-substring dictionary — the same
    broadcastable-dictionary scale path as span_dedup.
    """
    spans = _maximal_dup_spans(
        docs, id_col, text_col, window_tokens, min_count, spread
    )
    per = spans.groupBy("doc_id").agg(
        F.sum("nw").cast("long").alias("n_dup_windows"),
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("dup_tokens"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(textkit.normalized(F.col(text_col)), " ")).alias("n_toks"),
    )
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n_toks"), 4
        ).alias("dup_frac"),
    )


def remove_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
    min_count: int = 2,
    spread: bool = True,
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2021 §4.1 — the actual
    intervention their suffix-array measurement feeds): delete every
    token covered by a maximal duplicated span (q63's spans — EVERY
    occurrence is cut, the paper's published behavior, which may leave
    zero copies of a heavily-duplicated run) and reassemble the
    remaining tokens in order. Unlike span_dedup's disjoint 4-token
    chunks (q49), sliding windows catch SHIFTED copies, so this is the
    cleaning stage chunking can't replicate.

    Returns one row per input document:
      (doc_id, orig_tokens, kept_tokens, removed_tokens, clean_text)
    clean_text is the space-joined survivors of the corpus-canonical
    normalization; removed_tokens = sum of span lengths (spans are
    disjoint after the island merge, so the sum is exact coverage).

    Plan shape: the span pass is q63's exactly (one wide shuffle on
    (xxhash64(window), length) — never window strings); spans then
    aggregate per doc into a sorted array (output rows ~= duplicated
    docs, tiny on a cleaned corpus) and join back to the docs table,
    where reassembly is ONE pure projection: complement intervals via
    zip_with over (0 ++ span ends, span starts ++ n) and exact-length
    slices (never slice-to-INT_MAX under a HOF — CLAUDE.md pitfall),
    flattened and space-joined. The token array is hoisted into its own
    projection so the HOF lambdas reference a bound attribute, not the
    split/normalize subtree. Per-doc cost is linear in tokens + spans;
    nothing ever shuffles document text except the doc_id join of the
    span arrays, which AQE broadcasts when the duplicated set is small.
    """
    w = window_tokens
    spans = _maximal_dup_spans(docs, id_col, text_col, w, min_count, spread)
    sp_arr = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("sps"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("cut"),
    )
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(textkit.normalized(F.col(text_col)), " ").alias("toks"),
    )
    joined = (
        toked.join(sp_arr, "doc_id", "left")
        .withColumn(
            "sps",
            F.coalesce(
                F.col("sps"), F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
            ),
        )
        .withColumn("cut", F.coalesce(F.col("cut"), F.lit(0)).cast("long"))
    )
    # kept ranges are the complement of the (disjoint, sorted) spans:
    # starts = 0 ++ span ends, ends = span starts ++ n; each range
    # yields slice(toks, start+1, max(len, 0)) — 1-based, exact length
    starts = F.concat(
        F.array(F.lit(0)), F.transform(F.col("sps"), lambda sp: sp["e"])
    )
    ends = F.concat(
        F.transform(F.col("sps"), lambda sp: sp["s"]),
        F.array(F.size("toks")),
    )
    kept = F.flatten(
        F.zip_with(
            starts,
            ends,
            lambda st, en: F.slice(
                F.col("toks"), st + F.lit(1), F.greatest(en - st, F.lit(0))
            ),
        )
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("orig_tokens"),
        (F.size("toks") - F.col("cut")).cast("long").alias("kept_tokens"),
        F.col("cut").alias("removed_tokens"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def boilerplate_dictionary(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 4,
    df_min: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """The corpus' boilerplate DICTIONARY as a first-class artifact:
    the top-k most widespread exact ``window_tokens``-token spans
    (disjoint chunks, the q49/span_dedup unit) with their occurrence
    and distinct-document counts — the report a cleaning run ships so
    humans can audit WHAT the span-dedup pass is about to cut (nav
    bars, cookie banners, license blurbs).

    Deterministic top-k: ordered by (ndocs DESC, occurrences DESC,
    span_text) so ties break identically in any engine. One shuffle
    (span-text agg, partial-aggregated); the top-k itself is a tiny
    driver-side sort — no second wide exchange at any corpus size
    because the ≥df_min filter runs before the ordering.
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(textkit.normalized(F.col(text_col)), " ").alias("toks"),
    )
    # tokens hoisted into their own projection: span_chunks' HOF lambda
    # re-evaluates referenced subtrees per element otherwise
    flat = toked.select(
        "doc_id",
        F.explode(textkit.span_chunks(F.col("toks"), window_tokens)).alias(
            "span_text"
        ),
    )
    agg = flat.groupBy("span_text").agg(
        F.count("*").cast("long").alias("occurrences"),
        F.countDistinct("doc_id").cast("long").alias("ndocs"),
    )
    return (
        agg.filter(F.col("ndocs") >= df_min)
        .orderBy(F.desc("ndocs"), F.desc("occurrences"), F.asc("span_text"))
        .limit(top_k)
    )
