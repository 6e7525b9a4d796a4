"""Unit tests for the analytics operators (SURVEY.md O17–O28 + training-data ops)."""

import pandas as pd
from pyspark.sql import functions as F

from outage_data_scraper_spark import schemas
from outage_data_scraper_spark.frontier.politeness import HostPacer, SimClock, TokenBucket
from outage_data_scraper_spark.operators import dedup, multimodal, pii, similarity
from outage_data_scraper_spark.operators.sessionize import (
    sessionize_threshold_state_machine,
)
from outage_data_scraper_spark.operators.standardize import standardize_ga1tx8


# -- GA1TX8 standardization vs an independent pandas re-statement --------------

def test_standardize_ga1tx8_matches_reference_semantics(spark):
    obs_rows = [
        # outage O1: three observations, 15 min apart
        ("O1", "2024-08-01 10:15:00", "2024-08-01 10:00:00", 100, 33.0, -84.0, "30301"),
        ("O1", "2024-08-01 10:30:00", "2024-08-01 10:00:00", 80, 33.0, -84.0, "30301"),
        ("O1", "2024-08-01 10:45:00", "2024-08-01 10:00:00", 60, 33.0, -84.0, "30301"),
        # outage O2: single observation
        ("O2", "2024-08-01 11:20:00", "2024-08-01 11:00:00", 40, 34.0, -85.0, "30302"),
    ]
    obs = spark.createDataFrame(
        obs_rows,
        "outage_id string, timestamp string, start_time string, "
        "customer_affected long, lat double, lng double, zipcode string",
    ).withColumns(
        {"timestamp": F.to_timestamp("timestamp"), "start_time": F.to_timestamp("start_time")}
    )
    dim = spark.createDataFrame(
        [("30301", "Fulton"), ("30302", "DeKalb")], "zipcode string, county string"
    )
    gold = standardize_ga1tx8(obs, dim, "Test EMC", "ga").toPandas().set_index("outage_id")

    # independent pandas mirror of pipeline.py:79–98
    g = pd.DataFrame(
        obs_rows, columns=["oid", "ts", "st", "ca", "lat", "lng", "zip"]
    )
    g["ts"] = pd.to_datetime(g["ts"]); g["st"] = pd.to_datetime(g["st"])
    grp = g[g.oid == "O1"].sort_values("ts")
    end = grp.ts.max()
    duration = (end - grp.st.iloc[-1]).total_seconds() / 60
    tcot = 15 * (grp.ca.sum() - grp.ca.iloc[0]) + (
        (grp.ts.iloc[0] - grp.st.iloc[0]).total_seconds() / 60 * grp.ca.iloc[0]
    )
    r = gold.loc["O1"]
    assert r["duration"] == round(duration, 2) == 45.0
    assert r["duration_max"] == 60.0
    assert r["customer_affected_mean"] == 80.0
    assert r["total_customer_outage_time"] == round(tcot, 2) == 15 * 140 + 15 * 100
    assert r["total_customer_outage_time_max"] == r["total_customer_outage_time"] + 15 * 60
    assert r["county"] == "Fulton"
    assert gold.loc["O2"]["county"] == "DeKalb"
    assert gold.loc["O2"]["duration"] == 20.0


# -- threshold state machine ----------------------------------------------------

def test_sessionize_state_machine_cases(spark):
    rows = []
    base = "2024-08-01 "
    series = [0, 10, 20, 300, 310, 0, 0, 50, 55, 0]  # session A (jump>abs_diff), gap, session B
    for i, v in enumerate(series):
        rows.append(("U", "tx", "C", "Ci", "0", 1000, v, f"{base}{10 + i // 60:02d}:{i % 60:02d}:00"))
    pous = spark.createDataFrame(
        rows,
        "UtilityName string, StateName string, CountyName string, CityName string, "
        "CountyFIPS string, CustomersTracked long, CustomersOut long, RecordDateTime string",
    ).withColumn("RecordDateTime", F.to_timestamp("RecordDateTime"))
    out = sessionize_threshold_state_machine(pous, threshold=5, abs_diff=100).toPandas()
    out = out.sort_values("session_id").reset_index(drop=True)
    assert len(out) == 2
    a, b = out.iloc[0], out.iloc[1]
    assert a["n_obs"] == 4 and a["peak_customers_out"] == 310
    assert a["case_d_splits"] == 1  # 20 → 300 jump
    assert b["n_obs"] == 2 and b["peak_customers_out"] == 55


# -- dedup family -----------------------------------------------------------------

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


NEAR_A = "the quick brown fox jumps over the lazy dog again and again every single day " * 4
NEAR_B = NEAR_A.replace("lazy", "sleepy")
OTHER = "completely different content about power grid outage restoration crews working " * 4
# High-Jaccard pair for banded-LSH recall tests: 60 distinct tokens, one
# substitution → shingle Jaccard ≈ 0.84, so a 4-row band matches w.h.p.
# (NEAR_A/NEAR_B sit at ≈0.5, which 4-row bands legitimately miss.)
LONG_A = " ".join(f"tok{i}" for i in range(60))
LONG_B = LONG_A.replace("tok30", "swapped")


def test_exact_dedup_normalization(spark):
    docs = _docs(spark, ["Hello  World", "hello world", "other text"])
    m = {r.doc_id: r.canonical_id for r in dedup.exact_dedup_map(docs).collect()}
    assert m[0] == m[1] == 0 and m[2] == 2


def test_minhash_lsh_finds_near_dups(spark):
    docs = _docs(spark, [LONG_A, LONG_B, OTHER])
    pairs = dedup.minhash_lsh_candidates(docs, num_perm=32, bands=8).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}[(0, 1)]
    assert est > 0.5


def test_minhash_signature_entries_distinct(spark):
    """Regression: the permutation index must bind per-signature-entry.
    A default-arg lambda is introspected as an (element, index) transform
    lambda, collapsing every entry to the same hash family — banded LSH
    then degenerates to single-hash matching with est_jaccard ≡ 1.0."""
    from pyspark.sql import functions as F

    docs = _docs(spark, [NEAR_A])
    sig = docs.select(
        dedup.minhash_signature(F.col("text"), k_shingle=5, num_perm=16).alias("sig")
    ).first()["sig"]
    assert len(sig) == 16
    assert len(set(sig)) >= 12, f"signature entries not independent: {sig}"


def test_minhash_est_jaccard_not_degenerate(spark):
    docs = _docs(spark, [LONG_A, LONG_B, OTHER])
    pairs = dedup.minhash_lsh_candidates(docs, num_perm=32, bands=8).collect()
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}[(0, 1)]
    assert est < 1.0  # near-dups, not identical — degenerate sigs give 1.0


def test_word_shingles_short_doc_yields_empty(spark):
    """Docs with fewer than k tokens must produce an empty shingle array
    (sequence(1, 0) is DESCENDING and slice(toks, 0, k) throws)."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.functions import textkit

    docs = _docs(spark, ["two words", "", NEAR_A])
    sizes = docs.select(
        F.size(textkit.word_shingles(F.col("text"), 5)).alias("n")
    ).collect()
    assert sizes[0].n == 0 and sizes[1].n == 0 and sizes[2].n > 0
    # and the full jaccard path survives a short-doc corpus
    pairs = dedup.ngram_jaccard_pairs(docs, min_jaccard=0.3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == set()


def test_simhash_near_dups(spark):
    docs = _docs(spark, [NEAR_A, NEAR_B, OTHER])
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_candidates(docs, max_hamming=7).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_ngram_jaccard_exact(spark):
    docs = _docs(spark, [NEAR_A, NEAR_B, OTHER])
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, min_jaccard=0.3).collect()}
    assert (0, 1) in pairs and 0.3 <= pairs[(0, 1)] < 1.0


# -- similarity --------------------------------------------------------------------

def test_ann_lsh_recall_vs_brute_force(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    base = rng.standard_normal(32)
    vecs = []
    for i in range(200):
        noise = rng.standard_normal(32) * (0.1 if i < 20 else 2.0)
        vecs.append((i, (base + noise).tolist(), 0))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
    q = base.tolist()
    exact = [r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in similarity.ann_topk_lsh(emb, q, k=10, n_planes=10).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, f"ANN recall {recall} too low"


def test_embedding_near_dup_blocked(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0], 1), (1, [0.99, 0.01, 0.0], 1), (2, [0.0, 1.0, 0.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = {(r.id_a, r.id_b) for r in similarity.embedding_near_dup_pairs(emb, threshold=0.95, n_planes=4).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_embedding_near_dup_lsh_recall_vs_exact(spark):
    """The banded-LSH pair miner (q36's scale path) must recover ≥0.9 of
    the exact label-blocked q24 pairs on the driver's sf0.01 tables."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    v = F.col("embedding").cast("array<double>")
    b = emb.select(F.col("vec_id"), v.alias("v"), F.col("label"))
    l, r = b.alias("l"), b.alias("r")
    exact = {
        (x.id_a, x.id_b)
        for x in (
            l.join(r, (F.col("l.label") == F.col("r.label")) & (F.col("l.vec_id") < F.col("r.vec_id")))
            .select(
                F.col("l.vec_id").alias("id_a"),
                F.col("r.vec_id").alias("id_b"),
                similarity.cosine(F.col("l.v"), F.col("r.v")).alias("c"),
            )
            .filter(F.col("c") >= 0.3)
            .collect()
        )
    }
    approx = {
        (x.id_a, x.id_b)
        for x in similarity.embedding_near_dup_pairs(
            emb, threshold=0.3, n_planes=2, n_bands=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"banded-LSH recall {recall:.3f} below 0.9 ({len(exact)} exact pairs)"
    # every emitted pair genuinely clears the threshold (no false accepts)
    assert all(
        x.cos_sim >= 0.3
        for x in similarity.embedding_near_dup_pairs(
            emb, threshold=0.3, n_planes=2, n_bands=8
        ).collect()
    )


# -- multimodal --------------------------------------------------------------------

def test_multimodal_plumbing(spark):
    assets = multimodal.synth_assets(spark, 30)
    feats = multimodal.extract_features(assets, dim=8, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feat) == 8 for r in rows)
    # deterministic across runs
    again = {r.asset_id: r.feat for r in multimodal.extract_features(assets, dim=8, fake=True).collect()}
    assert all(again[r.asset_id] == r.feat for r in rows)


def test_decode_stub_raises_for_compressed_only():
    import pytest as _pytest

    # lossless WebP (VP8L) decodes natively since r5; LOSSY VP8 stays an
    # honest stub — a well-formed container whose only chunk is VP8
    lossy = b"RIFF" + (12).to_bytes(4, "little") + b"WEBPVP8 " + (4).to_bytes(4, "little") + b"\x00" * 4
    with _pytest.raises(NotImplementedError):
        multimodal.decode_image(lossy)
    # truncated WebP chunk header is malformed, not a stub
    with _pytest.raises(ValueError):
        multimodal.decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    # JPEG now decodes natively; malformed JPEG bytes raise ValueError
    with _pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xffJPEG....")


def test_ppm_roundtrip_and_real_decode():
    import numpy as np

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    payload = multimodal.encode_ppm(img)
    back = multimodal.decode_image(payload)  # REAL decode, no codec libs
    assert back.shape == (17, 23, 3) and (back == img).all()


def test_real_image_features_from_pixels(spark):
    """fake=False: every synthetic kind decodes for REAL — images via
    their ppm/png/jpeg container cycle, audio via its PCM-WAV/FLAC
    container cycle, video via MJPEG-in-AVI per-frame JPEG decode."""
    assets = multimodal.synth_assets(spark, 30)
    rows = multimodal.extract_features(assets, dim=16, fake=False).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r.kind, set()).add(r.decoder)
    assert by_kind["image"] == {
        "ppm-numpy", "png-zlib", "jpeg-numpy", "gif-lzw", "webp-vp8l"
    }
    assert by_kind["audio"] == {"wav-pcm", "flac-rice"}
    assert by_kind["video"] == {"mjpeg-avi"}
    img_feats = {r.asset_id: r.feat for r in rows if r.kind == "image"}
    # real features: bounded, deterministic, and not the digest fake
    assert all(-1.0 <= x <= 1.0 for f in img_feats.values() for x in f)
    again = {
        r.asset_id: r.feat
        for r in multimodal.extract_features(assets, dim=16, fake=False).collect()
        if r.kind == "image"
    }
    assert again == img_feats
    fakes = {
        r.asset_id: r.feat
        for r in multimodal.extract_features(assets, dim=16, fake=True).collect()
        if r.kind == "image"
    }
    assert any(fakes[a] != img_feats[a] for a in img_feats)


def test_resize_images_real(spark):
    import numpy as np

    # plus one lossless WebP (VP8L) row: resize decodes through
    # decode_image, so every format it decodes resizes
    src = (np.add.outer(np.arange(12) * 9, np.arange(16) * 5) % 256).astype(np.uint8)
    src = np.stack([src, 255 - src, src // 2], axis=2)
    webp = spark.createDataFrame(
        [(99, multimodal.encode_webp(src))], "asset_id long, payload binary"
    )
    assets = multimodal.synth_assets(spark, 12).select("asset_id", "payload")
    resized = multimodal.resize_images(assets.unionByName(webp), 8, 6).collect()
    kinds = {r.asset_id: r for r in resized}
    imgs = [r for r in resized if r.payload is not None]
    assert len(imgs) == 5  # every third asset is an image, plus the WebP
    for r in imgs:
        arr = multimodal.decode_image(bytes(r.payload))
        assert arr.shape == (6, 8, 3)
    # nearest-neighbor: output pixel (y, x) is source (2y, 2x)
    got = multimodal.decode_image(bytes(kinds[99].payload))
    assert np.array_equal(got, src[::2, ::2])
    # non-image payloads pass through as null (no native decoder)
    assert all(r.payload is None for r in resized if r.asset_id % 3 != 0)


def test_frame_sample_plan(spark):
    assets = multimodal.synth_assets(spark, 30)
    plan = multimodal.frame_sample_plan(assets, fps=1.0)
    pdf = plan.toPandas()
    assert (pdf.groupby("asset_id").frame_idx.min() == 0).all()


# -- politeness ---------------------------------------------------------------------

def test_token_bucket_paces_with_sim_clock():
    clk = SimClock()
    tb = TokenBucket(rate=2.0, capacity=1.0, clock_now=clk.now, clock_sleep=clk.sleep)
    assert tb.acquire() == 0.0          # burst token
    w1 = tb.acquire()                   # must wait 1/rate
    assert abs(w1 - 0.5) < 1e-9
    assert abs(clk.now() - 0.5) < 1e-9


def test_host_pacer_per_host_isolation():
    p = HostPacer(rate_per_host=1.0, sim=True)
    assert p.acquire("a.com") == 0.0
    assert p.acquire("b.com") == 0.0    # different host: own bucket
    assert p.acquire("a.com") > 0.0     # same host: throttled


def test_ann_ivf_recall_vs_brute_force(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    centers = rng.standard_normal((4, 16)) * 3
    vecs = []
    for i in range(240):
        c = centers[i % 4]
        vecs.append((i, (c + rng.standard_normal(16) * 0.3).tolist(), i % 4))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
    q = (centers[0] + 0.1).tolist()
    exact = [r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in similarity.ann_topk_ivf(
        emb, q, k=10, n_centroids=8, n_probe=3, iters=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.8, f"IVF recall {recall} too low"


def test_kmeans_deterministic(spark):
    import numpy as np

    rng = np.random.default_rng(2)
    vecs = [(i, rng.standard_normal(8).tolist(), 0) for i in range(100)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
    c1 = similarity.kmeans_centroids(emb, k=4, iters=2)
    c2 = similarity.kmeans_centroids(emb, k=4, iters=2)
    assert np.allclose(c1, c2)


def test_token_bucket_real_clock_delays():
    """Politeness with the REAL clock: 3 acquisitions at 20 req/s must
    take ≥ 2/20 s of wall time (first is the burst token)."""
    import time as _t

    tb = TokenBucket(rate=20.0, capacity=1.0)
    t0 = _t.monotonic()
    for _ in range(3):
        tb.acquire()
    assert _t.monotonic() - t0 >= 0.099


def test_standardize_ga1tx8_eastern_day_boundary(spark):
    """pipeline.py:108–111 parity: gold start/end render in US/Eastern by
    default — a UTC timestamp just past midnight on Aug 1 lands in JULY
    Eastern (−4 h EDT), and a January one shifts −5 h (EST). Durations are
    instant-based and must not change."""
    obs = spark.createDataFrame(
        [
            ("O1", "2024-08-01 02:00:00", "2024-08-01 01:00:00", 100, 33.0, -84.0, "30301"),
            ("O2", "2024-01-15 03:00:00", "2024-01-15 02:30:00", 40, 34.0, -85.0, "30301"),
        ],
        "outage_id string, timestamp string, start_time string, "
        "customer_affected long, lat double, lng double, zipcode string",
    ).withColumns(
        {"timestamp": F.to_timestamp("timestamp"), "start_time": F.to_timestamp("start_time")}
    )
    dim = spark.createDataFrame([("30301", "Fulton")], "zipcode string, county string")
    gold = {
        r.outage_id: r
        for r in standardize_ga1tx8(obs, dim, "EMC", "ga").collect()
    }
    assert str(gold["O1"].start_time) == "2024-07-31 21:00:00"  # EDT −4 h, July
    assert str(gold["O1"].end_time) == "2024-07-31 22:00:00"
    assert gold["O1"].duration == 60.0
    assert str(gold["O2"].start_time) == "2024-01-14 21:30:00"  # EST −5 h
    assert gold["O2"].duration == 30.0
    # tz=None keeps raw UTC
    raw = {
        r.outage_id: r
        for r in standardize_ga1tx8(obs, dim, "EMC", "ga", tz=None).collect()
    }
    assert str(raw["O1"].start_time) == "2024-08-01 01:00:00"


def test_png_roundtrip_all_filters():
    """encode_png(filter_mode='cycle') writes one scanline per PNG filter
    type (None/Sub/Up/Average/Paeth) — decode must invert every one."""
    import numpy as np

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (10, 13, 3), dtype=np.uint8)
    for mode in ("none", "cycle"):
        back = multimodal.decode_image(multimodal.encode_png(img, filter_mode=mode))
        assert back.shape == (10, 13, 3) and (back == img).all(), mode


def test_png_gray_and_rgba_color_types():
    """decode_png handles color types 0 (gray→replicated RGB) and 6
    (RGBA→alpha dropped), built chunk-by-chunk here."""
    import struct
    import zlib

    import numpy as np

    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(
            ">I", zlib.crc32(typ + data)
        )

    def png(w, h, ctype, samples):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        stride = w * {0: 1, 6: 4}[ctype]
        raw = b"".join(
            b"\x00" + samples[y * stride : (y + 1) * stride] for y in range(h)
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    gray = bytes(range(12))  # 4x3 gray
    g = multimodal.decode_png(png(4, 3, 0, gray))
    assert g.shape == (3, 4, 3) and (g[:, :, 0] == g[:, :, 2]).all()
    assert g[0, 1, 0] == 1
    rgba = bytes((i * 7) % 256 for i in range(4 * 3 * 4))
    r = multimodal.decode_png(png(4, 3, 6, rgba))
    assert r.shape == (3, 4, 3) and r[0, 0, 2] == 14  # alpha dropped


def test_malformed_magic_payloads_fall_back_per_row(spark):
    """ADVICE r2: bytes that start with a decoder magic but are malformed
    must produce the labeled fake (features) / null (resize) for THAT
    row — never abort the Spark task (O23 design)."""
    import pandas as pd

    assets = spark.createDataFrame(
        pd.DataFrame(
            {
                "asset_id": [0, 1, 2],
                "kind": ["image", "image", "image"],
                "payload": [
                    b"P6\nnot really a ppm",
                    b"\x89PNG\r\n\x1a\ngarbage",
                    multimodal.encode_ppm(
                        __import__("numpy").zeros((4, 4, 3), dtype="uint8")
                    ),
                ],
            }
        )
    )
    rows = {r.asset_id: r for r in multimodal.extract_features(assets, dim=8, fake=False).collect()}
    assert rows[0].decoder == rows[1].decoder == "fake-blake2b"
    assert rows[2].decoder == "ppm-numpy"
    resized = {r.asset_id: r for r in multimodal.resize_images(assets, 2, 2).collect()}
    assert resized[0].payload is None and resized[1].payload is None
    assert resized[2].payload is not None


def test_bad_ihdr_length_falls_back_per_row(spark):
    """ADVICE r3: a PNG-magic payload whose IHDR chunk declares a length
    != 13 must raise ValueError (not struct.error) so the per-row
    fallbacks catch it instead of aborting the task."""
    import struct

    import pandas as pd
    import pytest

    short_ihdr = struct.pack(">I", 5) + b"IHDR" + b"\x00" * 5 + b"\x00" * 4
    payload = multimodal._PNG_SIG + short_ihdr
    with pytest.raises(ValueError):
        multimodal.decode_png(payload)
    assets = spark.createDataFrame(
        pd.DataFrame({"asset_id": [0], "kind": ["image"], "payload": [payload]})
    )
    rows = multimodal.extract_features(assets, dim=8, fake=False).collect()
    assert rows[0].decoder == "fake-blake2b"


def test_q28_signatures_match_committed_oracle(spark):
    """The q28 value gate end-to-end: Spark's real-decode signature rows
    equal the committed expected parquet byte-for-byte (the parquet is
    regenerated by scripts/gen_q28_oracle.py whenever decode changes
    INTENTIONALLY; an unintentional drift fails here first)."""
    import os

    import pyarrow.parquet as pq

    expected_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "testoracle", "q28_expected.parquet",
    )
    expected = pq.read_table(expected_path).to_pylist()
    got = (
        multimodal.extract_feature_signatures(
            multimodal.synth_assets(spark, 200), dim=16
        )
        .collect()
    )
    got_map = {r.asset_id: (r.kind, r.decoder, r.feat_sig) for r in got}
    assert len(got_map) == len(expected) == 200
    for e in expected:
        assert got_map[e["asset_id"]] == (e["kind"], e["decoder"], e["feat_sig"])


def test_wav_roundtrip_and_real_audio_features():
    import numpy as np

    rng = np.random.default_rng(5)
    mono = (rng.uniform(-0.9, 0.9, 4000) * 32767).astype(np.int16)
    back, rate = multimodal.decode_wav(multimodal.encode_wav(mono, 8000))
    assert rate == 8000 and back.shape == (4000, 1)
    assert np.allclose(back[:, 0], mono / 32768.0, atol=1e-4)
    stereo = np.stack([mono, -mono], axis=1)
    back2, _ = multimodal.decode_wav(multimodal.encode_wav(stereo, 16000))
    assert back2.shape == (4000, 2)
    # silence has minimal RMS in every window; a loud tone does not
    quiet = multimodal._audio_features(np.zeros((1000, 1), np.float32), 8)
    assert (quiet == -1.0).all()
    loud = multimodal._audio_features(np.ones((1000, 1), np.float32) * 0.8, 8)
    assert (loud > -0.2).all()


def test_malformed_wav_falls_back_per_row(spark):
    import pandas as pd

    assets = spark.createDataFrame(
        pd.DataFrame(
            {
                "asset_id": [0],
                "kind": ["audio"],
                "payload": [b"RIFF\x10\x00\x00\x00WAVEgarbage"],
            }
        )
    )
    rows = multimodal.extract_features(assets, dim=8, fake=False).collect()
    assert rows[0].decoder == "fake-blake2b"


def test_gopher_rules_each_rule_fires(spark):
    """q43's frozen Gopher-style rule set: one crafted doc per rule
    violation, one clean doc that passes all six."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.functions import textkit

    clean = "the a " + " ".join(f"word{i}" for i in range(28))
    docs = spark.createDataFrame(
        [
            (0, clean),                                     # keep
            (1, "too short a doc"),                         # n_tokens < 20
            (2, "aa " * 30),                                # ttr: 1 distinct / 30
            (3, ("x1 " * 5 + "the and a of to is ") * 4),   # dominance x1 > 0.2
            (4, "1 2 3 4 5 6 7 8 9 10 " * 3),               # alpha_frac = 0
            (5, ("zz qq ww ee rr tt yy uu ii oo pp ll kk jj hh gg ff dd ss "
                 "mm nn bb vv cc xx")),                     # no stopwords
        ],
        "doc_id long, text string",
    )
    toked = docs.select(
        "doc_id", "text", textkit.tokens(F.col("text")).alias("toks")
    )
    keep = {
        r.doc_id: r.k
        for r in toked.select(
            "doc_id", textkit.gopher_keep(F.col("text"), F.col("toks")).alias("k")
        ).collect()
    }
    assert keep[0] is True
    assert all(keep[i] is False for i in range(1, 6)), keep


def test_lang_id_multi_detects_languages(spark):
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.functions import textkit

    docs = spark.createDataFrame(
        [
            (0, "the quick fox is in the barn and it is that fast for a while"),
            (1, "el perro corre en la casa y los gatos se quedan en el patio de la abuela"),
            (2, "der Hund ist in dem Haus und die Katze ist mit den Kindern von der Stadt"),
            (3, "le chat est dans la maison et les chiens sont des animaux de la ferme"),
            (4, "zxqv wplk mnbt rrsq oiuy"),  # no function words → und
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.lang
        for r in docs.select(
            "doc_id", textkit.lang_id_multi(F.col("text")).alias("lang")
        ).collect()
    }
    assert got == {0: "en", 1: "es", 2: "de", 3: "fr", 4: "und", 5: "und"}, got


def test_connected_components_toy_graphs(spark):
    """Min-label propagation: chain (diameter > 1 round), two disjoint
    clusters, and convergence — every node labeled with the minimum
    reachable id."""
    from outage_data_scraper_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5 (forces multi-round propagation) + clique {10,11,12}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_star_and_reversed_ids(spark):
    """Labels follow the MINIMUM id even when edges point 'uphill'."""
    from outage_data_scraper_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(9, 3), (9, 7), (9, 1), (5, 9)], "id_a long, id_b long"
    )
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert set(got.values()) == {1}


def test_hash_split_deterministic_and_proportional(spark):
    from outage_data_scraper_spark.operators.sampling import hash_split

    df = spark.range(10_000).withColumnRenamed("id", "doc_id")
    a = hash_split(df).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 8000) < 300
    assert abs(counts["val"] - 1000) < 150
    assert abs(counts["test"] - 1000) < 150
    # byte-identical across recomputation (the property rand() lacks)
    one = hash_split(df).filter("doc_id = 4242").select("split").first()[0]
    two = hash_split(df).filter("doc_id = 4242").select("split").first()[0]
    assert one == two
    # a different seed moves rows; weights must sum to 100
    import pytest as _pt

    moved = (
        hash_split(df, seed="split-2")
        .withColumnRenamed("split", "s2")
        .join(hash_split(df), "doc_id")
        .filter("s2 != split")
        .count()
    )
    assert moved > 0
    with _pt.raises(ValueError):
        hash_split(df, weights=(("train", 50), ("test", 40)))


def test_hash_split_plan_is_narrow(spark):
    """The split is a projection over the scan — no shuffle."""
    from outage_data_scraper_spark.operators.sampling import hash_split
    from outage_data_scraper_spark.plans import count_exchanges

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert count_exchanges(hash_split(df)) == 0


def test_span_dedup_removes_corpus_boilerplate(spark):
    """Hand-checkable C4-style case: a 4-token span shared by 3 docs is
    cut from ALL of them at df_min=3; unique spans survive in order;
    within-doc repetition alone (one doc) does not trigger removal."""
    from outage_data_scraper_spark.operators.dedup import span_dedup

    boiler = "subscribe to our newsletter"
    docs = _docs(
        spark,
        [
            f"{boiler} alpha beta gamma delta",
            f"{boiler} epsilon zeta eta theta",
            f"iota kappa lambda mu {boiler}",
            # within-doc repeat of a span no other doc has
            "nu xi omicron pi nu xi omicron pi",
        ],
    )
    out = {r.doc_id: r for r in span_dedup(docs, span_tokens=4, df_min=3).collect()}
    assert out[0].n_spans == 2 and out[0].n_removed == 1
    assert out[0].clean_text == "alpha beta gamma delta"
    assert out[1].clean_text == "epsilon zeta eta theta"
    assert out[2].n_removed == 1 and out[2].clean_text == "iota kappa lambda mu"
    assert out[3].n_removed == 0
    assert out[3].clean_text == "nu xi omicron pi nu xi omicron pi"


def test_span_dedup_tail_spans_and_empty_doc(spark):
    """Docs whose token count is not a span multiple keep the short tail
    span; ordering survives reassembly."""
    from outage_data_scraper_spark.operators.dedup import span_dedup

    docs = _docs(spark, ["a b c d e f g h i j k", ""])
    out = {r.doc_id: r for r in span_dedup(docs, span_tokens=4, df_min=2).collect()}
    assert out[0].n_spans == 3 and out[0].n_removed == 0
    assert out[0].clean_text == "a b c d e f g h i j k"


def test_chunk_dedup_keep_first_hand_case(spark):
    """CCNet keep-first: a chunk shared by three docs survives ONLY in
    the earliest (doc_id, pos) instance; within-doc repeats keep the
    first position; unique chunks untouched."""
    from outage_data_scraper_spark.operators.dedup import chunk_dedup_keep_first

    boiler = "subscribe to our newsletter"
    docs = _docs(
        spark,
        [
            f"alpha beta gamma delta {boiler}",  # boiler at pos 1
            f"{boiler} epsilon zeta eta theta",  # pos 0, but doc0 is the earlier doc
            f"iota kappa lambda mu {boiler}",
            # within-doc repeat: first instance kept, second cut
            "nu xi omicron pi nu xi omicron pi",
        ],
    )
    out = {
        r.doc_id: r for r in chunk_dedup_keep_first(docs, span_tokens=4).collect()
    }
    # winner = min(doc_id*2^24+pos): doc0 pos1 beats doc1 pos0 and doc2 pos1
    assert out[0].n_dropped == 0
    assert out[0].clean_text == f"alpha beta gamma delta {boiler}"
    assert out[1].n_dropped == 1
    assert out[1].clean_text == "epsilon zeta eta theta"
    assert out[2].n_dropped == 1
    assert out[2].clean_text == "iota kappa lambda mu"
    assert out[3].n_spans == 2 and out[3].n_dropped == 1
    assert out[3].clean_text == "nu xi omicron pi"


def test_chunk_dedup_keep_first_vs_c4_and_empty(spark):
    """Keep-first differs from C4 exactly on the first instance: C4 at
    df_min=2 removes BOTH copies, keep-first retains one. Fully-duped
    docs keep an empty clean_text stats row."""
    from outage_data_scraper_spark.operators.dedup import (
        chunk_dedup_keep_first,
        span_dedup,
    )

    docs = _docs(spark, ["a b c d tail x y", "a b c d"])
    kf = {r.doc_id: r for r in chunk_dedup_keep_first(docs, span_tokens=4).collect()}
    c4 = {r.doc_id: r for r in span_dedup(docs, span_tokens=4, df_min=2).collect()}
    assert kf[0].clean_text == "a b c d tail x y" and kf[0].n_dropped == 0
    assert kf[1].clean_text == "" and kf[1].n_dropped == 1  # doc1 fully duped
    assert c4[0].clean_text == "tail x y"  # C4 cut the first copy too
    assert c4[1].clean_text == ""
    # every chunk instance accounted for: kept + dropped == n_spans
    tot = chunk_dedup_keep_first(docs).selectExpr(
        "sum(n_spans) s", "sum(n_dropped) d"
    ).collect()[0]
    assert tot.s == 3 and tot.d == 1


def test_top_terms_hand_computed(spark):
    """TF-IDF on a 3-doc corpus checked by hand: a term in every doc has
    idf ln(1)=0; a repeated rare term outranks a singleton rare term."""
    import math

    from outage_data_scraper_spark.operators.terms import top_terms

    docs = _docs(
        spark,
        [
            "common rare rare unique1",
            "common other other unique2",
            "common filler words unique3",
        ],
    )
    out = top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    top0 = sorted(by_doc[0], key=lambda r: r.rank)
    assert top0[0].term == "rare" and top0[0].tf == 2 and top0[0].df == 1
    assert top0[0].tfidf == round(2 * math.log(3.0 / 1.0), 6)
    assert top0[1].term == "unique1"
    # 'common' (df=3, idf=0) never makes top-2 anywhere
    assert all(r.term != "common" for rs in by_doc.values() for r in rs)


def test_connected_components_random_parity_with_union_find(spark):
    """Randomized parity: min-label propagation must equal a pure-Python
    union-find ground truth on random graphs (including multi-edges and
    self-loops)."""
    import random

    from outage_data_scraper_spark.operators.dedup import connected_components

    rng = random.Random(13)
    # one denser trial: smaller diameter keeps the propagation-round count
    # (each round is several tiny Spark jobs) from dominating suite time
    for trial in range(1):
        n = 50
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes_with_edges = {a for a, _ in edges} | {b for _, b in edges}
        want = {x: find(x) for x in nodes_with_edges}
        # canonical = min of component, which union-by-min preserves
        comp_min = {}
        for x in nodes_with_edges:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        want = {x: comp_min[find(x)] for x in nodes_with_edges}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.node: r.label for r in connected_components(df).collect()}
        assert got == want, f"trial {trial}"


def test_connected_components_star_parity(spark):
    """The O(log² n) large-star/small-star scale path must produce the
    identical (node, label) map as min-label propagation on random
    graphs and on a long chain (the adversarial case it exists for)."""
    import random

    from outage_data_scraper_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    # long chain 0-1-2-...-19 + separate clique
    chain = [(i, i + 1) for i in range(19)] + [(30, 31), (31, 32), (30, 32)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    star = {r.node: r.label for r in connected_components_star(df).collect()}
    prop = {r.node: r.label for r in connected_components(df).collect()}
    assert star == prop
    assert star[19] == 0 and star[32] == 30

    rng = random.Random(99)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]
    edges = [e for e in edges if e[0] != e[1]]
    df2 = spark.createDataFrame(edges, "id_a long, id_b long")
    star2 = {r.node: r.label for r in connected_components_star(df2).collect()}
    prop2 = {r.node: r.label for r in connected_components(df2).collect()}
    assert star2 == prop2


def test_connected_components_raise_instead_of_partial_labels(spark):
    """A 30-node chain needs 29 min-label rounds, past the default cap
    of 25: min-label propagation raises (naming the star path) instead
    of returning node 29 labelled 3; the star path labels all 30, and
    raises too when its own cap runs out."""
    import pytest

    from outage_data_scraper_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="connected_components_star"):
        connected_components(chain)
    star = {r.node: r.label for r in connected_components_star(chain).collect()}
    assert star == {i: 0 for i in range(30)}
    with pytest.raises(RuntimeError, match="max_iter=1 "):
        connected_components_star(chain, max_iter=1)


def test_span_dedup_fast_path_broadcasts_and_matches(spark):
    """keep_stats=False: the boilerplate dictionary is broadcast
    (left-anti, no flat-side shuffle on span text) and clean_text equals
    the stats path for every surviving doc; all-boilerplate docs drop."""
    from outage_data_scraper_spark.operators.dedup import span_dedup
    from outage_data_scraper_spark.plans import assert_broadcast_join

    boiler = "subscribe to our newsletter"
    docs = _docs(
        spark,
        [
            f"{boiler} alpha beta gamma delta",
            f"{boiler} epsilon zeta eta theta",
            f"{boiler}",  # all-boilerplate → dropped on the fast path
        ],
    )
    fast = span_dedup(docs, span_tokens=4, df_min=3, keep_stats=False)
    assert_broadcast_join(fast)
    got = {r.doc_id: r.clean_text for r in fast.collect()}
    slow = {
        r.doc_id: r.clean_text
        for r in span_dedup(docs, span_tokens=4, df_min=3).collect()
    }
    assert got == {0: "alpha beta gamma delta", 1: "epsilon zeta eta theta"}
    assert slow[0] == got[0] and slow[1] == got[1] and slow[2] == ""


def test_dup_span_fraction_within_doc_repetition(spark):
    """q52's within-document repetition signal: hand-computable span
    counts, plus the empty-array guard (sequence(0,-1) DESCENDS in
    Spark — span_chunks must yield [] for an empty token array)."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.functions import textkit

    docs = spark.createDataFrame(
        [
            # 8 tokens = 2 spans, identical halves -> 1 unique, frac 0.5
            (0, "a b c d a b c d"),
            # 4 tokens = 1 span -> frac 0.0
            (1, "w x y z"),
            # 16 tokens = 4 identical spans -> frac 0.75
            (2, "r s t u " * 4),
            # 5 tokens = 2 spans (second is the 1-token tail), distinct
            (3, "p q r s t"),
        ],
        "doc_id long, text string",
    )
    toked = docs.select(
        "doc_id", F.split(textkit.normalized(F.col("text")), " ").alias("toks")
    )
    out = {
        r.doc_id: (r.n, r.u, r.f)
        for r in toked.select(
            "doc_id",
            F.size(textkit.span_chunks(F.col("toks"), 4)).alias("n"),
            F.size(F.array_distinct(textkit.span_chunks(F.col("toks"), 4))).alias("u"),
            textkit.dup_span_fraction(F.col("toks"), 4).alias("f"),
        ).collect()
    }
    assert out[0] == (2, 1, 0.5)
    assert out[1] == (1, 1, 0.0)
    assert out[2] == (4, 1, 0.75)
    assert out[3] == (2, 2, 0.0)

    empty = spark.range(1).select(
        F.array().cast("array<string>").alias("toks")
    ).select(
        F.size(textkit.span_chunks(F.col("toks"), 4)).alias("n"),
        textkit.dup_span_fraction(F.col("toks"), 4).alias("f"),
    ).first()
    assert empty.n == 0 and empty.f == 0.0


def test_stratified_sample_narrow_deterministic(spark):
    """q53's mix sampler: zero shuffles (filter-over-scan), exact
    determinism across runs, rate monotonicity, unlisted strata drop."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.operators.sampling import (
        stratified_sample, uniform01,
    )
    from outage_data_scraper_spark.plans import count_exchanges

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rates = (("en", 0.5), ("fr", 1.0), ("zh", 0.25))
    out = stratified_sample(docs.select("doc_id", "lang"), "lang", rates)
    assert count_exchanges(out) == 0  # the whole point: decidable per row
    got = {r.doc_id for r in out.collect()}
    assert got == {r.doc_id for r in out.collect()}  # stable re-run
    rows = docs.select(
        "doc_id", "lang", uniform01(F.col("doc_id")).alias("u")
    ).collect()
    rate = dict(rates)
    expect = {r.doc_id for r in rows if r.u < rate.get(r.lang, 0.0)}
    assert got == expect
    # fr kept whole, unlisted strata (es/de) fully dropped
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert {"es", "de"} <= langs
    kept_langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert "es" not in kept_langs and "de" not in kept_langs
    n_fr = docs.filter(F.col("lang") == "fr").count()
    assert out.filter(F.col("lang") == "fr").count() == n_fr


def test_benchmark_overlap_hand_checked(spark):
    """q54's decontamination: one corpus doc shares a 5-gram with the
    benchmark (twice, via an internal repeat), one shares nothing, one
    is too short to shingle."""
    from outage_data_scraper_spark.operators.dedup import benchmark_overlap

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains "alpha beta gamma delta epsilon" twice
            (10, "alpha beta gamma delta epsilon xx alpha beta gamma delta epsilon"),
            (11, "totally different words here nothing shared at all"),
            (12, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_hits, r.n_shingles)
           for r in benchmark_overlap(corpus, bench, k=5).collect()}
    # doc 10: instances of benchmark 5-grams — "alpha beta gamma delta
    # epsilon" ×2 plus "beta gamma delta epsilon zeta"? zeta absent in
    # corpus text, so exactly the one distinct shingle, two instances
    assert got == {10: (2, 1)}, got


def test_extract_frame_features_real_video(spark):
    """q55's decode stage: stride-2 sampling over real MJPEG-AVI,
    malformed video payloads contribute zero rows."""
    from pyspark.sql import functions as F

    assets = multimodal.synth_assets(spark, 12)  # ids 2,5,8,11 are video
    rows = multimodal.extract_frame_features(assets, every=2, dim=8).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    assert set(by_asset) == {2, 5, 8, 11}
    for aid, rs in by_asset.items():
        assert [r.frame_idx for r in sorted(rs, key=lambda r: r.frame_idx)] == [0, 2]
        assert all(r.n_frames == 4 for r in rs)
        assert all(r.fps == 4 + aid % 7 for r in rs)
        assert len({r.frame_sig for r in rs}) == 2  # frames drift → distinct sigs
    # corrupt one payload: that asset silently drops, others survive
    corrupt = assets.withColumn(
        "payload",
        F.when(F.col("asset_id") == 2, F.lit(b"RIFF\x00\x00\x00\x00AVI garbage"))
        .otherwise(F.col("payload")),
    )
    got = {r.asset_id for r in multimodal.extract_frame_features(corrupt, every=2).collect()}
    assert got == {5, 8, 11}


def test_bigram_lm_scores_hand_checked(spark):
    """q57: add-one bigram self-perplexity on a 3-doc corpus small
    enough to compute by hand. V=3 (a,b,z); c(a)=c(b)=3, c(z)=1;
    P(a b)=(3+1)/(3+3), P(b a)=(1+1)/(3+3)."""
    import math

    from outage_data_scraper_spark.operators.lm import bigram_lm_scores

    docs = _docs(spark, ["a b a b", "a b", "z"])
    got = {r.doc_id: (r.n_bigrams, r.avg_nll) for r in bigram_lm_scores(docs).collect()}
    nll_ab = round(-math.log(4 / 6) * 1e6)
    nll_ba = round(-math.log(2 / 6) * 1e6)
    exp0 = round((2 * nll_ab + nll_ba) / 3e6, 4)
    exp1 = round(nll_ab / 1e6, 4)
    assert got == {0: (3, exp0), 1: (1, exp1)}, got  # doc 2: no bigrams, no row
    assert exp0 == 0.6365 and exp1 == 0.4055


def test_pagerank_micro_matches_sequential_reference(spark):
    """q58: distributed integer-micro PageRank vs an independent
    sequential fold with the same rounding rule; isolated nodes settle
    at the base term; determinism across runs."""
    from decimal import ROUND_HALF_UP, Decimal

    from outage_data_scraper_spark.operators.graph import pagerank_micro

    E = [(0, 1), (1, 0), (1, 2), (2, 0), (3, 0)]  # 4 connected + isolated 4
    N, d, unit, iters = 5, 0.85, 1_000_000, 4
    edges = spark.createDataFrame(E, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(N)], "node long")
    got = {
        r.node: r.rank_micro
        for r in pagerank_micro(edges, nodes, n_iter=iters, damping=d).collect()
    }

    def hu(x):
        return int(Decimal(x).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    deg = {}
    for s, _ in E:
        deg[s] = deg.get(s, 0) + 1
    base = hu((1 - d) * unit / N)
    r = {v: hu(unit / N) for v in range(N)}
    for _ in range(iters):
        nxt = {v: base for v in range(N)}
        for s, t in E:
            nxt[t] += hu(d * r[s] / deg[s])
        r = nxt
    assert got == r, (got, r)
    assert got[4] == base  # isolated: base term only
    assert got[0] == max(got.values())  # 3 in-links → top rank
    again = {
        x.node: x.rank_micro
        for x in pagerank_micro(edges, nodes, n_iter=iters, damping=d).collect()
    }
    assert again == got


def test_reprioritize_frontier_pagerank_feedback(spark):
    """Host PageRank feeds the frontier: the ranked host pops before
    priority-0 hosts and within-host reference order is untouched."""
    from outage_data_scraper_spark.frontier.priority import pop_wave
    from outage_data_scraper_spark.operators.graph import (
        pagerank_micro, reprioritize_frontier,
    )

    rows = []
    for h, host in enumerate(["a.com", "b.com", "c.com"]):
        for i in range(3):
            rows.append(
                (f"http://{host}/{i}", host, 0.0, 0, h, i, 0,
                 None, None, None, None, 0)
            )
    frontier = spark.createDataFrame(rows, schemas.FRONTIER)
    # c.com is the hub: a→c, b→c, c→a
    edges = spark.createDataFrame(
        [("a.com", "c.com"), ("b.com", "c.com"), ("c.com", "a.com")],
        "src string, dst string",
    )
    hosts = spark.createDataFrame(
        [("a.com",), ("b.com",), ("c.com",)], "node string"
    )
    ranks = pagerank_micro(edges, hosts, n_iter=3)
    rmap = {r.node: r.rank_micro for r in ranks.collect()}
    assert rmap["c.com"] == max(rmap.values())

    re_f = reprioritize_frontier(frontier, ranks)
    popped = pop_wave(re_f, per_host_k=2, num_parts=4).collect()
    by_host = {}
    for r in sorted(popped, key=lambda r: (r.priority, r.seed_seq)):
        by_host.setdefault(r.host, []).append(r.url)
    # within-host order is still the ordering law (seed_seq ascending)
    assert by_host["c.com"] == ["http://c.com/0", "http://c.com/1"]
    # and the hub host carries the lowest (first) priority
    prios = {r.host: r.priority for r in popped}
    assert prios["c.com"] < prios["a.com"] < 0 and prios["b.com"] < 0


def test_pagerank_empty_node_set_returns_empty(spark):
    from outage_data_scraper_spark.operators.graph import pagerank_micro

    edges = spark.createDataFrame([], "src long, dst long")
    nodes = spark.createDataFrame([], "node long")
    assert pagerank_micro(edges, nodes, n_iter=3).count() == 0


def test_revisit_schedule_backoff_hand_checked(spark):
    """q61's policy: volatile → floor; stable → base<<(streak−1)
    clamped at max; first-ever fetch counts as changed."""
    from outage_data_scraper_spark.frontier.revisit import revisit_schedule

    rows = []
    # u1: sig changes at last fetch → streak 0 → min interval
    for i, sig in enumerate(["a", "a", "b"]):
        rows.append(("u1", f"2024-03-01 10:0{i}:00", sig))
    # u2: 2 trailing unchanged → 86400 << 1
    for i, sig in enumerate(["a", "b", "b", "b"]):
        rows.append(("u2", f"2024-03-01 10:0{i}:00", sig))
    # u3: single fetch → changed → streak 0 → min
    rows.append(("u3", "2024-03-01 10:00:00", "x"))
    # u4: q then z×25 → last change at fetch 1 → 24 trailing unchanged
    # → shift capped at 20 → clamped to max_s
    for i in range(26):
        rows.append(("u4", f"2024-03-01 10:{i:02d}:00", "z" if i else "q"))
    hist = spark.createDataFrame(
        rows, "url string, fetch_ts string, content_sig string"
    ).withColumn("fetch_ts", F.to_timestamp("fetch_ts"))
    got = {
        r.entity: (r.n_fetches, r.tail_streak, r.next_interval_s)
        for r in revisit_schedule(hist).collect()
    }
    assert got["u1"] == (3, 0, 3600)
    assert got["u2"] == (4, 2, 86400 << 1)
    assert got["u3"] == (1, 0, 3600)
    assert got["u4"] == (26, 24, 30 * 86400)  # clamped at max
    # epoch arithmetic: last fetch + interval
    u2 = {r.entity: r for r in revisit_schedule(hist).collect()}["u2"]
    import datetime as _dt

    last = _dt.datetime(2024, 3, 1, 10, 3, tzinfo=_dt.timezone.utc).timestamp()
    assert u2.next_fetch_epoch == int(last) + (86400 << 1)


def test_frozen_lm_parity_and_unseen_tokens(spark):
    """q62 (VERDICT r4 item 8): the frozen-model scoring pass must equal
    the self-trained path value-for-value on the training corpus; on NEW
    text it must apply the same add-one smoothing with unseen counts = 0
    (P = 1/(0+V) for an unseen bigram after an unseen token)."""
    import math

    from outage_data_scraper_spark.operators.lm import (
        bigram_lm_scores,
        score_bigram_lm_frozen,
        train_bigram_lm,
    )

    corpus = _docs(spark, ["a b a b", "a b", "z", "", "b a b z a"])
    model = train_bigram_lm(corpus)
    # the empty doc tokenizes to [""] (F.split semantics), so "" IS a
    # vocab entry — identical in both paths by construction
    assert model.vocab == 4 and set(model.uni) == {"a", "b", "z", ""}
    self_t = {r.doc_id: (r.n_bigrams, r.avg_nll)
              for r in bigram_lm_scores(corpus).collect()}
    frozen = {r.doc_id: (r.n_bigrams, r.avg_nll)
              for r in score_bigram_lm_frozen(corpus, model).collect()}
    assert frozen == self_t, (frozen, self_t)
    # unseen data: "q q" -> c1(q)=0, c12=0 -> NLL = -ln(1/4) per bigram
    new = _docs(spark, ["q q"])
    row = score_bigram_lm_frozen(new, model).collect()[0]
    assert row.n_bigrams == 1
    assert row.avg_nll == round(round(-math.log(1 / 4) * 1e6) / 1e6, 4)
    # min_count flooring drops rare entries but keeps |V| unfloored
    floored = train_bigram_lm(corpus, min_count=2)
    assert floored.vocab == 4 and "" not in floored.uni
    assert set(floored.uni) == {"a", "b", "z"}


def test_lm_table_parity_with_dict_path(spark, tmp_path):
    """The parquet-persisted model scored via broadcast joins must equal
    the driver-dict frozen path value-for-value — on the training
    corpus AND on new text with unseen tokens (coalesce-0 ≡ fillna-0),
    floored and unfloored."""
    from outage_data_scraper_spark.operators.lm import (
        score_bigram_lm_frozen,
        score_bigram_lm_table,
        train_bigram_lm,
        train_bigram_lm_table,
    )

    corpus = _docs(spark, ["a b a b", "a b", "z", "", "b a b z a"])
    new = _docs(spark, ["q q", "a q b a b"])
    for mc in (1, 2):
        path = str(tmp_path / f"model_mc{mc}")
        train_bigram_lm_table(corpus, path, min_count=mc)
        model = train_bigram_lm(corpus, min_count=mc)
        for data in (corpus, new):
            dict_rows = {
                r.doc_id: (r.n_bigrams, r.avg_nll)
                for r in score_bigram_lm_frozen(data, model).collect()
            }
            table_rows = {
                r.doc_id: (r.n_bigrams, r.avg_nll)
                for r in score_bigram_lm_table(data, path).collect()
            }
            assert table_rows == dict_rows, (mc, table_rows, dict_rows)


def test_lm_table_plan_broadcasts_model(spark, tmp_path):
    """Scoring under the table model: both model joins broadcast and the
    only HASH exchange is the per-doc (doc_id, micro_nll) regroup
    (shape.spread's small-input RoundRobin repartition — a no-op on scans
    already yielding >= cores splits — is the one other exchange
    allowed, r8)."""
    from outage_data_scraper_spark.operators.lm import (
        score_bigram_lm_table,
        train_bigram_lm_table,
    )
    from outage_data_scraper_spark.plans import (
        assert_broadcast_join,
        formatted_plan,
    )

    corpus = _docs(spark, ["a b a b", "b a b z a"])
    path = str(tmp_path / "model")
    train_bigram_lm_table(corpus, path)
    out = score_bigram_lm_table(corpus, path)
    assert_broadcast_join(out, n_min=2)
    plan = formatted_plan(out)
    assert plan.count("hashpartitioning") == 1, plan[:3000]


def test_train_bigram_lm_size_guard(spark):
    """Past max_entries total table rows the dict trainer refuses and
    points at the table variant (VERDICT r6: billions of bigrams must
    not collect to the driver)."""
    import pytest as _pytest

    from outage_data_scraper_spark.operators.lm import train_bigram_lm

    corpus = _docs(spark, ["a b c d e f g h"])
    with _pytest.raises(ValueError, match="train_bigram_lm_table"):
        train_bigram_lm(corpus, max_entries=3)


def test_duplicated_substring_spans_hand_checked(spark):
    """Two docs share an 8-token run at DIFFERENT offsets (the shifted
    copy C4 chunking misses); one doc repeats a run within itself; one
    doc is fully unique. Hand-derived window/span/token counts."""
    from outage_data_scraper_spark.operators.dedup import duplicated_substring_spans

    common = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            # doc 0: common at offset 0, then 4 unique tokens
            (0, common + " u1 u2 u3 u4"),
            # doc 1: 3 unique tokens, common at offset 3
            (1, "v1 v2 v3 " + common),
            # doc 2: within-doc repeat of its own 8-token run
            (2, "p q r s t u v w p q r s t u v w"),
            # doc 3: all unique
            (3, "one two three four five six seven eight nine"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_substring_spans(docs).collect()}
    # docs 0/1: exactly one duplicated window each (the shared run),
    # merged span covers its 8 tokens
    for d in (0, 1):
        assert out[d].n_dup_windows == 1, out[d]
        assert out[d].n_dup_spans == 1
        assert out[d].dup_tokens == 8
    assert out[0].dup_frac == round(8 / 12, 4)
    assert out[1].dup_frac == round(8 / 11, 4)
    # doc 2: 16 tokens; windows at pos 0..8; pos 0 ("p..w") == pos 8, so
    # both duplicated -> islands merge [0,8) and [8,16) into ONE span of
    # 16 tokens; the 7 bridging windows (pos 1..7) are unique
    assert out[2].n_dup_windows == 2
    assert out[2].n_dup_spans == 1
    assert out[2].dup_tokens == 16
    assert out[2].dup_frac == 1.0
    # doc 3: nothing duplicated — still one output row, all zeros
    assert out[3].n_dup_windows == 0
    assert out[3].n_dup_spans == 0
    assert out[3].dup_tokens == 0
    assert out[3].dup_frac == 0.0


def test_duplicated_substring_spans_gap_splits_islands(spark):
    """Two duplicated runs separated by enough unique tokens must yield
    TWO maximal spans, not one."""
    from outage_data_scraper_spark.operators.dedup import duplicated_substring_spans

    run_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    run_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    gap = "g1 g2 g3 g4 g5 g6 g7 g8 g9 g10"
    docs = spark.createDataFrame(
        [
            (0, run_a + " " + gap + " " + run_b),
            (1, run_a),
            (2, run_b),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_substring_spans(docs).collect()}
    assert out[0].n_dup_spans == 2
    assert out[0].dup_tokens == 16
    # the 8-token donor docs are themselves single spans
    assert out[1].n_dup_spans == 1 and out[1].dup_tokens == 8
    assert out[2].n_dup_spans == 1 and out[2].dup_tokens == 8


def _brute_remove_spans(rows, w=8, min_count=2):
    """Plain-Python ExactSubstr removal twin: corpus-wide window counts
    → per-doc covered-position union → reassembly. Independent of the
    operator's span/complement formulation."""
    import re
    from collections import Counter

    toks = {}
    for i, txt in rows:
        t = re.sub(r"\s+", " ", txt).strip().lower()
        toks[i] = t.split(" ")
    cnt = Counter()
    wins = {}
    for i, tk in toks.items():
        ws = [" ".join(tk[j : j + w]) for j in range(len(tk) - w + 1)]
        wins[i] = ws
        cnt.update(ws)
    out = {}
    for i, tk in toks.items():
        covered = set()
        for j, s in enumerate(wins[i]):
            if cnt[s] >= min_count:
                covered.update(range(j, j + w))
        kept = [t for p, t in enumerate(tk) if p not in covered]
        out[i] = (len(tk), len(kept), len(tk) - len(kept), " ".join(kept))
    return out


def test_remove_duplicated_spans_hand_checked(spark):
    """Shifted cross-doc copy, within-doc repeat, unique doc, and a
    two-span doc with a preserved middle gap — reassembled text checked
    byte-for-byte."""
    from outage_data_scraper_spark.operators.dedup import remove_duplicated_spans

    common = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    run_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    run_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    gap = "g1 g2 g3 g4 g5 g6 g7 g8 g9 g10"
    rows = [
        (0, common + " u1 u2 u3 u4"),          # span at doc START
        (1, "v1 v2 v3 " + common),             # span at doc END
        (2, "p q r s t u v w p q r s t u v w"),  # whole doc removed
        (3, "one two three four five six seven eight nine"),  # untouched
        (4, run_a + " " + gap + " " + run_b),  # two spans, gap survives
        (5, run_a),
        (6, run_b),
        (7, "short doc"),                      # < w tokens, untouched
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in remove_duplicated_spans(docs).collect()}
    assert out[0].clean_text == "u1 u2 u3 u4"
    assert (out[0].orig_tokens, out[0].kept_tokens, out[0].removed_tokens) == (12, 4, 8)
    assert out[1].clean_text == "v1 v2 v3"
    # every occurrence is cut — the within-doc repeat leaves NOTHING
    assert out[2].clean_text == "" and out[2].kept_tokens == 0
    assert out[2].removed_tokens == 16
    assert out[3].clean_text == rows[3][1]
    assert out[3].removed_tokens == 0
    assert out[4].clean_text == gap
    assert out[4].removed_tokens == 16
    # the donor docs lose their whole text too (paper semantics)
    assert out[5].clean_text == "" and out[6].clean_text == ""
    assert out[7].clean_text == "short doc" and out[7].removed_tokens == 0


def test_remove_duplicated_spans_normalizes_and_counts(spark):
    """clean_text is the corpus-canonical normalization (lower,
    collapsed whitespace) even for untouched docs; counts are over
    normalized tokens."""
    from outage_data_scraper_spark.operators.dedup import remove_duplicated_spans

    docs = spark.createDataFrame(
        [(0, "  Mixed   CASE\ttext  here ")], ["doc_id", "text"]
    )
    r = remove_duplicated_spans(docs).collect()[0]
    assert r.clean_text == "mixed case text here"
    assert (r.orig_tokens, r.kept_tokens, r.removed_tokens) == (4, 4, 0)


def test_remove_duplicated_spans_brute_parity(spark):
    """Seeded random corpus with planted shifted/partial/within-doc
    duplicates vs the covered-position brute-force twin — every column
    including the reassembled text."""
    import random

    from outage_data_scraper_spark.operators.dedup import remove_duplicated_spans

    rng = random.Random(87)
    vocab = [f"w{i}" for i in range(40)]
    planted = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 14)))
        for _ in range(5)
    ]
    rows = []
    for i in range(60):
        n = rng.randint(0, 30)
        toks = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5:
            ins = rng.choice(planted).split(" ")
            at = rng.randint(0, len(toks))
            toks = toks[:at] + ins + toks[at:]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.orig_tokens, r.kept_tokens, r.removed_tokens, r.clean_text)
        for r in remove_duplicated_spans(docs).collect()
    }
    want = _brute_remove_spans(rows)
    assert got == want


def test_boilerplate_dictionary_orders_and_counts(spark):
    """Chunk unit parity with span_dedup + deterministic tiebreak."""
    from outage_data_scraper_spark.operators.dedup import boilerplate_dictionary

    banner = "click here to subscribe"
    legal = "all rights reserved worldwide"
    rows = []
    # banner in 6 docs (one doc has it twice -> occurrences 7, ndocs 6)
    for i in range(6):
        extra = " " + banner if i == 0 else ""
        rows.append((i, banner + extra))
    # legal in 5 docs
    for i in range(6, 11):
        rows.append((i, legal))
    # below-threshold span in 2 docs
    rows.append((11, "rare span of text"))
    rows.append((12, "rare span of text"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = boilerplate_dictionary(docs, window_tokens=4, df_min=5, top_k=20).collect()
    assert [(r.span_text, r.occurrences, r.ndocs) for r in got] == [
        (banner, 7, 6),
        (legal, 5, 5),
    ]


def test_sq8_codes_bounds_and_reconstruction_error(spark):
    """Codes are in [0, 255]; midpoint reconstruction is within half a
    cell (scale/512 per dimension) of the input everywhere."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    vecs = [(i, rng.standard_normal(16).tolist()) for i in range(100)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    mns, scales = similarity.sq8_stats(emb)
    codes = similarity.sq8_codes(F.col("embedding"), mns, scales)
    deq = similarity.sq8_dequantize(codes, mns, scales)
    rows = emb.select("vec_id", "embedding", codes.alias("c"), deq.alias("d")).collect()
    for r in rows:
        assert all(0 <= c <= 255 for c in r.c), r.c
        for x, y, s in zip(r.embedding, r.d, scales):
            assert abs(x - y) <= s / 512 + 1e-12, (x, y, s)


def test_sq8_ann_recall_vs_brute_force(spark):
    """Quantized cosine top-10 must agree almost perfectly with the
    exact top-10 on a clustered corpus (8-bit cells are far finer than
    the inter-cluster gaps)."""
    import numpy as np

    rng = np.random.default_rng(1)
    base = rng.standard_normal(32)
    vecs = []
    for i in range(200):
        noise = rng.standard_normal(32) * (0.1 if i < 20 else 2.0)
        vecs.append((i, (base + noise).tolist()))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = base.tolist()
    exact = [r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()]
    quant = [r.vec_id for r in similarity.sq8_cosine_topk(emb, q, k=10).collect()]
    recall = len(set(exact) & set(quant)) / 10
    assert recall >= 0.9, f"SQ8 recall {recall} too low"


def test_sq8_constant_dimension_degrades_to_zero_code(spark):
    """A dimension with max == min (scale 0) must quantize to code 0 and
    reconstruct to the midpoint without dividing by zero."""
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [2.0, 5.0]), (2, [3.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    mns, scales = similarity.sq8_stats(emb)
    assert scales[1] == 0.0
    rows = emb.select(
        similarity.sq8_codes(F.col("embedding"), mns, scales).alias("c")
    ).collect()
    assert all(r.c[1] == 0 for r in rows)


def test_pii_scrub_redacts_every_category(spark):
    """Each category is found, counted, and replaced by its typed token;
    a PII-free document passes through byte-identical."""
    import hashlib

    clean = "no personal data here at all"
    dirty = (
        "mail a.b-c_d%e+f@sub.example.org or 10.0.0.1 then "
        "call 404-555-0199; ssn 987-65-4321 twice: 987-65-4321"
    )
    docs = spark.createDataFrame(
        [(0, clean), (1, dirty), (2, None)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in pii.pii_report(docs).collect()}
    assert (rows[0].n_emails, rows[0].n_ssns, rows[0].n_phones, rows[0].n_ipv4s) == (
        0, 0, 0, 0,
    )
    assert rows[0].scrubbed_md5 == hashlib.md5(clean.encode()).hexdigest()
    assert (rows[1].n_emails, rows[1].n_ssns, rows[1].n_phones, rows[1].n_ipv4s) == (
        1, 2, 1, 1,
    )
    assert rows[1].n_pii == 5
    expected = (
        "mail <EMAIL> or <IP> then call <PHONE>; ssn <SSN> twice: <SSN>"
    )
    assert rows[1].scrubbed_md5 == hashlib.md5(expected.encode()).hexdigest()
    # null text: zero counts, null scrub (null-preserving, not '')
    assert rows[2].n_pii == 0 and rows[2].scrubbed_md5 is None


def test_pii_word_boundaries_and_ssn_phone_disjoint(spark):
    """\\b guards: digits embedded in longer runs must NOT match; a
    phone (3-3-4) must never also count as an SSN (3-2-4) and vice
    versa; IPv4 inside a longer dotted run stays unmatched."""
    text = (
        "v1.2.3.4.5 is a version not an ip; id 1234-56-7890 overlong; "
        "phone 555-123-4567 only"
    )
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = pii.pii_report(docs).collect()[0]
    assert r.n_ssns == 0
    assert r.n_phones == 1
    # 1.2.3.4 sits inside v1.2.3.4.5 — trailing .5 breaks the \b match
    # only on the right side, so the leading 4-octet window still
    # matches per regex semantics in BOTH engines; assert agreement
    # with plain Python re (the semantics the patterns are written to)
    import re

    assert r.n_ipv4s == len(re.findall(pii.IPV4_RE, text))


def test_pii_plan_is_pure_projection(spark):
    """The report must add zero exchanges over the corpus scan."""
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("a@b.co x").alias("text")
    )
    plan = pii.pii_report(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_compression_signal_orders_text_by_entropy(spark):
    """Boilerplate compresses far better than high-entropy text; empty
    docs yield null ratio; comp_len agrees with the Python twin."""
    from outage_data_scraper_spark.operators import compress

    import numpy as np

    rep = "the same line again and again " * 50
    rng = np.random.default_rng(11)
    rnd = "".join(chr(c) for c in rng.integers(33, 127, size=1500))
    docs = spark.createDataFrame(
        [(0, rep), (1, rnd), (2, ""), (3, None)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in compress.compression_signal(docs).collect()}
    assert rows[0].ratio_bp < rows[1].ratio_bp
    assert rows[0].ratio_bp < 1500          # heavy repetition crushes
    assert rows[1].ratio_bp > 8000          # high entropy resists
    assert rows[2].ratio_bp is None and rows[3].ratio_bp is None
    for i, t in [(0, rep), (1, rnd)]:
        assert rows[i].comp_len == compress.compressed_len_py(t)
        assert rows[i].raw_len == len(t.encode("utf-8"))
        assert rows[i].ratio_bp == rows[i].comp_len * 10000 // rows[i].raw_len


def test_compression_signal_plan_is_narrow(spark):
    """One Arrow-batched python stage, zero exchanges."""
    from outage_data_scraper_spark.operators import compress

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("abc " * 20).alias("text")
    )
    plan = compress.compression_signal(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_bpe_train_hand_derived(spark):
    """Corpus 'aa aa ab': merge order is fully determined by the
    (freq DESC, left, right) tiebreak — '</w>' (0x3C...) sorts before
    'a' in both UTF8-binary and code-point order."""
    from outage_data_scraper_spark.operators import bpe

    docs = spark.createDataFrame([(0, "aa aa ab")], "doc_id long, text string")
    got = [tuple(r) for r in bpe.train_bpe(docs, n_merges=10).orderBy("step").collect()]
    assert got == [
        (0, "a", "</w>", "a</w>", 2),
        (1, "a", "a</w>", "aa</w>", 2),
        (2, "a", "b", "ab", 1),
        (3, "ab", "</w>", "ab</w>", 1),
    ]
    # 'aaa': (a, a) counts at both overlapping positions (pf 2), but the
    # merge rewrites left to right without overlap — [aa, a, </w>], so
    # the next merge is (a, </w>), not a second (a, a)
    docs = spark.createDataFrame([(0, "aaa")], "doc_id long, text string")
    got = [tuple(r) for r in bpe.train_bpe(docs, n_merges=10).orderBy("step").collect()]
    assert got == [
        (0, "a", "a", "aa", 2),
        (1, "a", "</w>", "a</w>", 1),
        (2, "aa", "a</w>", "aaa</w>", 1),
    ]


def test_bpe_train_matches_python_twin(spark):
    """Spark trainer == train_bpe_py on a seeded random corpus (the
    twin is the q68 oracle generator, so this parity IS the gate)."""
    import numpy as np

    from outage_data_scraper_spark.operators import bpe

    rng = np.random.default_rng(3)
    words = ["".join(rng.choice(list("abcde"), size=rng.integers(2, 7))) for _ in range(40)]
    texts = [
        " ".join(rng.choice(words, size=rng.integers(3, 12))) for _ in range(25)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe.train_bpe(docs, n_merges=12).orderBy("step").collect()]
    want = bpe.train_bpe_py(texts, 12)
    assert got == want


def test_bpe_encode_words_roundtrip(spark):
    """Encoding with the learned merges: symbols concat back to the
    word + END marker, and fully-merged training words collapse to a
    single symbol."""
    from outage_data_scraper_spark.operators import bpe

    docs = spark.createDataFrame([(0, "aa aa ab")], "doc_id long, text string")
    merges = [
        (r.left, r.right)
        for r in bpe.train_bpe(docs, n_merges=10).orderBy("step").collect()
    ]
    words = spark.createDataFrame([("aa",), ("ab",), ("ba",)], "word string")
    enc = {r.word: r.sym for r in bpe.encode_words(words, merges).collect()}
    assert enc["aa"] == ["aa</w>"]
    assert enc["ab"] == ["ab</w>"]
    # unseen word: merges that apply, apply; the rest stay chars
    assert "".join(enc["ba"]) == "ba</w>"
    assert enc["ba"] == ["b", "a</w>"]


def test_urlfilter_registered_domain_branches(spark):
    """eTLD+1: multi-label suffix takes 3 labels, plain takes 2,
    single-label host passes through."""
    from outage_data_scraper_spark.operators import urlfilter

    hosts = spark.createDataFrame(
        [("www.shop.example.co.uk",), ("a.b.example.net",), ("localhost",)],
        "h string",
    )
    got = [
        r.rd
        for r in hosts.select(
            urlfilter.registered_domain(F.col("h")).alias("rd")
        ).collect()
    ]
    assert got == ["example.co.uk", "example.net", "localhost"]


def test_urlfilter_keep_rule_each_reason(spark):
    """One URL per drop reason + one clean keeper."""
    from outage_data_scraper_spark.operators import urlfilter

    urls = [
        ("https://ok.example.net/a/b",),                          # keep
        ("https://bad.spam.example/x",),                          # blocked
        ("https://a.b.c.d.example.net/x",),                       # subdomain_depth 4
        ("https://h1234567890123.example.net/x",),                # digits > 40%
        ("https://ok.example.net/" + "/".join("abcdefghi") + "/x",),  # path_depth 10
        ("https://ok.example.net/" + "q" * 200,),                 # url_len > 200
    ]
    frontier = spark.createDataFrame(urls, "url string")
    bl = spark.createDataFrame([("spam.example",)], "reg_domain string")
    rows = {
        r.url: r for r in urlfilter.url_quality_features(frontier, bl).collect()
    }
    assert rows[urls[0][0]].keep
    assert rows[urls[1][0]].blocked and not rows[urls[1][0]].keep
    assert rows[urls[2][0]].subdomain_depth == 4 and not rows[urls[2][0]].keep
    assert rows[urls[3][0]].host_digit_bp >= 4000 and not rows[urls[3][0]].keep
    assert rows[urls[4][0]].path_depth > 8 and not rows[urls[4][0]].keep
    assert rows[urls[5][0]].url_len > 200 and not rows[urls[5][0]].keep


def test_urlfilter_blocklist_is_broadcast(spark):
    """The frontier side must not shuffle: blocklist joins broadcast."""
    from outage_data_scraper_spark.operators import urlfilter

    frontier = spark.range(1000).select(
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".example.net/x")).alias("url")
    )
    bl = spark.createDataFrame([("spam.example",)], "reg_domain string")
    plan = (
        urlfilter.url_quality_features(frontier, bl)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_inverted_index_postings_hand_case(spark):
    from outage_data_scraper_spark.operators import index

    docs = spark.createDataFrame(
        [(1, "b a b"), (2, "a c A"), (3, None)], "doc_id long, text string"
    )
    rows = {r.term: r for r in index.build_inverted_index(docs).collect()}
    # normalized lowercases: doc2 = [a, c, a]
    assert rows["a"].df == 2 and rows["a"].total_tf == 3
    assert rows["a"].postings == "1:1,2:0|2"
    assert rows["b"].df == 1 and rows["b"].postings == "1:0|2"
    assert rows["c"].postings == "2:1"
    assert set(rows) == {"a", "b", "c"}  # null doc contributes nothing


def test_inverted_index_doc_buckets_partition_postings(spark):
    """Bucketed rows must reassemble exactly to the unbucketed index."""
    from outage_data_scraper_spark.operators import index

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} shared") for i in range(20)], "doc_id long, text string"
    )
    flat = {r.term: r for r in index.build_inverted_index(docs).collect()}
    sharded = index.build_inverted_index(docs, doc_buckets=4).collect()
    by_term = {}
    for r in sharded:
        agg = by_term.setdefault(r.term, {"df": 0, "tf": 0, "entries": []})
        agg["df"] += r.df
        agg["tf"] += r.total_tf
        agg["entries"].extend(r.postings.split(","))
    for term, agg in by_term.items():
        assert agg["df"] == flat[term].df
        assert agg["tf"] == flat[term].total_tf
        assert sorted(agg["entries"], key=lambda e: int(e.split(":")[0])) == \
            flat[term].postings.split(",")


def test_inverted_index_two_shuffles(spark):
    from outage_data_scraper_spark.operators import index

    docs = spark.createDataFrame(
        [(i, "x y z") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        index.build_inverted_index(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial" in plan.lower() or "ObjectHashAggregate" in plan, plan


def test_bm25_empty_corpus_returns_empty(spark):
    """A corpus whose every doc tokenizes empty short-circuits to an
    empty (doc_id, score_u, n_terms) frame instead of dividing by n=0."""
    from outage_data_scraper_spark.operators import index

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string"
    )
    out = index.bm25_topk(docs, ["apple"])
    assert out.columns == ["doc_id", "score_u", "n_terms"]
    assert out.count() == 0


def test_sq8_stats_empty_table_raises(spark):
    """sq8_stats on an empty embedding table raises a meaningful error
    instead of IndexError."""
    import pytest

    from outage_data_scraper_spark.operators import similarity

    emb = spark.createDataFrame([], "doc_id long, vec array<double>")
    with pytest.raises(ValueError, match="empty embedding table"):
        similarity.sq8_stats(emb, "vec")


def test_bm25_matches_python_reference(spark):
    """Spark BM25 micro-unit scores == a plain-Python BM25 with the
    same expression shapes, on a hand-sized corpus."""
    import math

    from outage_data_scraper_spark.operators import index

    texts = {
        1: "apple banana apple",
        2: "banana cherry",
        3: "apple cherry cherry durian",
        4: "durian",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    q = ["apple", "cherry"]
    got = {r.doc_id: (r.score_u, r.n_terms) for r in index.bm25_topk(docs, q).collect()}

    toks = {i: t.split() for i, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n
    df = {t: sum(1 for w in toks.values() if t in w) for t in q}
    want = {}
    for i, w in toks.items():
        cu = 0
        k = 0
        for t in q:
            tf = w.count(t)
            if not tf:
                continue
            idf = math.log((float(n) - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            tfn = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(w) / avgdl))
            cu += int(round(idf * tfn * 1e6))
            k += 1
        if k:
            want[i] = (cu, k)
    assert got == want


def test_bm25_plan_broadcasts_df_and_filters_explode(spark):
    from outage_data_scraper_spark.operators import index

    docs = spark.createDataFrame(
        [(i, "apple pie") for i in range(50)], "doc_id long, text string"
    )
    plan = (
        index.bm25_topk(docs, ["apple"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_asof_join_hand_semantics(spark):
    """Equal-ts right row matches (backward inclusive); earlier right
    wins over nothing; no-match rows keep nulls; a NULL right payload
    column must NOT reach back past the matched row (struct atomicity)."""
    from datetime import datetime

    from outage_data_scraper_spark.operators import asof

    T = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [(1, 10, T("2024-01-01T00:00:05")),
         (2, 10, T("2024-01-01T00:00:10")),
         (3, 20, T("2024-01-01T00:00:01"))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, T("2024-01-01T00:00:03"), 100, "a"),
         (10, T("2024-01-01T00:00:10"), 101, None),
         (20, T("2024-01-01T00:02:00"), 102, "c")],
        "user_id long, ts timestamp, rid long, tag string",
    )
    rows = {r.event_id: r for r in asof.asof_join(left, right).collect()}
    assert rows[1].r_rid == 100 and rows[1].r_tag == "a"
    # equal-ts match, and its NULL tag stays NULL (no per-column reach-back)
    assert rows[2].r_rid == 101 and rows[2].r_tag is None
    # right row is in the future -> no match
    assert rows[3].r_rid is None and rows[3].r_ts is None


def test_asof_join_tolerance(spark):
    from datetime import datetime

    from outage_data_scraper_spark.operators import asof

    T = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [(1, 1, T("2024-01-01T00:01:00"))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, T("2024-01-01T00:00:00"), 9)], "user_id long, ts timestamp, rid long"
    )
    with_tol = asof.asof_join(left, right, tolerance_us=30_000_000).collect()[0]
    assert with_tol.r_rid is None  # 60 s lag > 30 s tolerance
    loose = asof.asof_join(left, right, tolerance_us=90_000_000).collect()[0]
    assert loose.r_rid == 9


def test_asof_join_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd

    from outage_data_scraper_spark.operators import asof

    rng = np.random.default_rng(5)
    base = pd.Timestamp("2024-01-01")
    lpdf = pd.DataFrame({
        "event_id": range(200),
        "user_id": rng.integers(0, 10, 200),
        "ts": base + pd.to_timedelta(rng.integers(0, 10_000, 200), "s"),
    })
    rpdf = pd.DataFrame({
        "user_id": rng.integers(0, 10, 150),
        "ts": base + pd.to_timedelta(rng.integers(0, 10_000, 150), "s"),
        "rid": range(150),
    })
    # unique (user_id, ts) on the right: deterministic match in all engines
    rpdf = rpdf.sort_values("rid").drop_duplicates(["user_id", "ts"], keep="last")
    got = (
        asof.asof_join(
            spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        lpdf.sort_values("ts"),
        rpdf.sort_values("ts"),
        on="ts",
        by="user_id",
        direction="backward",
    ).sort_values("event_id").reset_index(drop=True)
    assert got["r_rid"].fillna(-1).tolist() == want["rid"].fillna(-1).tolist()


def test_asof_join_single_shuffle_no_join(spark):
    """The plan is union + window: exactly one hash exchange, zero join
    operators — the shape that survives hot keys."""
    from datetime import datetime

    from outage_data_scraper_spark.operators import asof

    T = datetime.fromisoformat
    left = spark.createDataFrame(
        [(1, 1, T("2024-01-01T00:00:01"))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, T("2024-01-01T00:00:00"), 1)], "user_id long, ts timestamp, rid long"
    )
    plan = (
        asof.asof_join(left, right)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_range_join_boundaries_and_multibucket(spark):
    """Inclusive boundaries, interval spanning several buckets, each
    true pair exactly once, no nested-loop join in the plan."""
    from outage_data_scraper_spark.operators import rangejoin

    B = 1_000_000  # 1 s buckets for the test
    points = spark.createDataFrame(
        [(1, 10 * B), (2, 15 * B), (3, 15 * B + 1), (4, 9 * B)],
        "p_id long, p_us long",
    )
    ivals = spark.createDataFrame(
        [(100, 10 * B, 15 * B)], "i_id long, start_us long, end_us long"
    )
    got = (
        rangejoin.interval_point_join(
            points, ivals, "p_us", "start_us", "end_us", bucket_us=B
        )
        .select("p_id", "i_id")
        .collect()
    )
    assert sorted((r.p_id, r.i_id) for r in got) == [(1, 100), (2, 100)]
    plan = (
        rangejoin.interval_point_join(
            points, ivals, "p_us", "start_us", "end_us", bucket_us=B
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan, plan


def test_range_join_matches_bruteforce(spark):
    import numpy as np

    from outage_data_scraper_spark.operators import rangejoin

    rng = np.random.default_rng(9)
    pts = [(i, int(k), int(t)) for i, (k, t) in enumerate(
        zip(rng.integers(0, 5, 120), rng.integers(0, 10_000_000, 120)))]
    ivs = []
    for j in range(60):
        s = int(rng.integers(0, 9_000_000))
        ivs.append((1000 + j, int(rng.integers(0, 5)), s, s + int(rng.integers(0, 3_000_000))))
    points = spark.createDataFrame(pts, "p_id long, k long, p_us long")
    ivals = spark.createDataFrame(ivs, "i_id long, k long, start_us long, end_us long")
    got = sorted(
        (r.p_id, r.i_id)
        for r in rangejoin.interval_point_join(
            points, ivals, "p_us", "start_us", "end_us", by="k", bucket_us=1_000_000
        ).collect()
    )
    want = sorted(
        (p, i)
        for p, pk, t in pts
        for i, ik, s, e in ivs
        if pk == ik and s <= t <= e
    )
    assert got == want


def test_rollup_cascade_equals_direct(spark):
    """Re-aggregating the finer level must equal aggregating raw at
    every resolution (mergeability), incl. negative values."""
    import numpy as np

    from outage_data_scraper_spark.operators import rollup

    rng = np.random.default_rng(2)
    rows = [
        (str(k), int(t), int(v))
        for k, t, v in zip(
            rng.integers(0, 3, 300),
            rng.integers(0, 90_000 * 1_000_000, 300),
            rng.integers(-5_000_000, 5_000_000, 300),
        )
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts_us long, value_u long")
    got = rollup.rollup_cascade(ev, levels=(60, 3600)).collect()
    for level in (60, 3600):
        w = level * 1_000_000
        direct = {}
        for k, t, v in rows:
            b = (t // w) * w
            agg = direct.setdefault((k, b), [0, 0, None, None])
            agg[0] += 1
            agg[1] += v
            agg[2] = v if agg[2] is None else min(agg[2], v)
            agg[3] = v if agg[3] is None else max(agg[3], v)
        lvl = {
            (r.event_type, r.bucket_us): [r.n, r.sum_u, r.min_u, r.max_u]
            for r in got
            if r.level_s == level
        }
        assert lvl == direct, level


def test_hll_accuracy_raw_branch(spark):
    """50k distinct values: the raw alpha*m^2/sum branch fires (no
    zero registers expected is false - but est > 2.5m disables LC) and
    the estimate lands within 5% (sigma ~ 1.6% at m=4096)."""
    from outage_data_scraper_spark.operators import sketch

    df = spark.range(50_000).select(F.col("id").alias("v"))
    r = sketch.hll_estimate(sketch.hll_registers(df, "v")).collect()[0]
    assert abs(r.est - 50_000) / 50_000 < 0.05, r.est


def test_hll_sketch_merge_associative(spark):
    """Union of two shard sketches (max per bucket) == whole-corpus
    sketch — the mergeability that makes HLL shardable at 10^10 rows."""
    from outage_data_scraper_spark.operators import sketch

    df = spark.range(20_000).select(F.col("id").alias("v"))
    a = sketch.hll_registers(df.filter(F.col("v") % 2 == 0), "v")
    b = sketch.hll_registers(df.filter((F.col("v") % 2 == 1) | (F.col("v") < 5000)), "v")
    merged = a.unionByName(b).groupBy("bucket").agg(F.max("rho").alias("rho"))
    whole = sketch.hll_registers(df, "v")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_hll_register_table_deterministic(spark):
    """Same input, two independent computations: identical registers
    (the property that lets DuckDB gate the sketch value-exactly)."""
    from outage_data_scraper_spark.operators import sketch

    df = spark.range(1000).select((F.col("id") * 37 % 911).alias("v"))
    r1 = sorted(map(tuple, sketch.hll_registers(df, "v").collect()))
    r2 = sorted(map(tuple, sketch.hll_registers(df, "v").collect()))
    assert r1 == r2 and len(r1) > 100


def test_quota_sample_fallback_per_stratum_ids(spark):
    """Fallback dedup must key on (stratum, id): with ids unique only
    per stratum, the full-rank union must not evict a same-id row from
    a different stratum. prefilter_factor=0 forces every stratum down
    the fallback path."""
    from outage_data_scraper_spark.operators import sampling

    rows = [(i, s) for s in ("a", "b") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.quota_sample(
        docs, "lang", {"a": 5, "b": 5}, prefilter_factor=0
    )
    by_lang = {}
    for r in out.collect():
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert len(by_lang["a"]) == 5
    assert len(by_lang["b"]) == 5


def test_quota_sample_regimes_and_fallback(spark):
    """Cut / exact-population / quota>population / absent strata; the
    prefilter-fallback path (factor 0 -> empty prefilter -> full rank)
    must produce the identical result set; repartitioning must not
    change it (determinism is a function of ids alone)."""
    from outage_data_scraper_spark.operators import sampling

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    quotas = {"a": 10, "b": 50, "c": 100}
    base = sampling.quota_sample(docs, "lang", quotas)
    by_lang = {}
    for r in base.collect():
        by_lang.setdefault(r.lang, []).append((r.sample_rank, r.doc_id))
    assert len(by_lang["a"]) == 10
    assert len(by_lang["b"]) == 50  # population exactly 50
    assert len(by_lang["c"]) == 50  # quota 100 > population 50
    assert "d" not in by_lang
    key = lambda rs: sorted((lang, tuple(sorted(v))) for lang, v in rs.items())

    def collect_set(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.lang, []).append((r.sample_rank, r.doc_id))
        return out

    fallback = sampling.quota_sample(docs, "lang", quotas, prefilter_factor=0)
    assert key(collect_set(fallback)) == key(by_lang)
    reparted = sampling.quota_sample(docs.repartition(7), "lang", quotas)
    assert key(collect_set(reparted)) == key(by_lang)


# -- Count-Min / exact quantiles / shard planner (round 6) --------------------

def test_cms_overestimate_and_merge_associativity(spark):
    """Forced-collision regime (w=64, 500 keys): est ≥ exact for every
    key, est == exact where no collision, and the sketch merged from
    two halves equals the whole-corpus sketch cell-for-cell."""
    from outage_data_scraper_spark.operators import sketch

    rows = [(i, f"k{i % 500}") for i in range(5000)]
    df = spark.createDataFrame(rows, "i long, term string").repartition(8)
    whole = sketch.cms_table(df, "term", d=4, w=64)
    cand = df.groupBy("term").count().withColumnRenamed("count", "exact")
    est = sketch.cms_estimate(whole, cand.select("term"), "term", d=4, w=64)
    joined = {r.term: (r.est_cnt, r.exact) for r in est.join(cand, "term").collect()}
    assert len(joined) == 500
    assert all(e >= x for e, x in joined.values())
    assert any(e > x for e, x in joined.values())  # w=64 must collide
    # merge = union + re-sum (deterministic id-split halves)
    half1 = sketch.cms_table(df.filter(F.col("i") < 2500), "term", d=4, w=64)
    half2 = sketch.cms_table(df.filter(F.col("i") >= 2500), "term", d=4, w=64)
    merged = (
        half1.unionByName(half2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = {(r.row, r.bucket): r.cnt for r in whole.collect()}
    b = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    assert a == b


def test_cms_table_weighted_equals_stream_table(spark):
    """cms_table(cnt_col=...) over the pre-aggregated (key, count)
    relation must equal cms_table over the raw stream CELL-FOR-CELL (the
    r8 q81 restructure rests on the sum distributing over occurrences)."""
    from outage_data_scraper_spark.operators import sketch

    rows = [(i, f"k{i % 97}") for i in range(3000)]
    df = spark.createDataFrame(rows, "i long, term string").repartition(8)
    stream = sketch.cms_table(df, "term", d=4, w=64)
    counts = df.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    weighted = sketch.cms_table(counts, "term", d=4, w=64, cnt_col="c")
    a = {(r.row, r.bucket): r.cnt for r in stream.collect()}
    b = {(r.row, r.bucket): r.cnt for r in weighted.collect()}
    assert a == b


def test_exact_order_stats_fuzz_vs_sorted(spark):
    import random

    from outage_data_scraper_spark.operators.quantiles import exact_order_stats

    rng = random.Random(5)
    for trial, (n, dup) in enumerate([(1, 1), (7, 1), (400, 1), (300, 10), (256, 256)]):
        vals = [rng.randrange(0, max(n // dup, 1) + 1) for _ in range(n)]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "doc_id long, v long"
        ).repartition(8)
        ranks = sorted({1, n, max(n // 3, 1), max((2 * n) // 3, 1)})
        got = {
            r.rank: r.value
            for r in exact_order_stats(df, "v", ranks, n_buckets=16, tiebreak_col="doc_id").collect()
        }
        s = sorted(vals)
        want = {k: s[k - 1] for k in ranks}
        assert got == want, f"trial {trial}"


def test_exact_order_stats_guards(spark):
    import pytest as _pytest

    from outage_data_scraper_spark.operators.quantiles import exact_order_stats

    df = spark.createDataFrame([(1, 10), (2, 20)], "doc_id long, v long")
    with _pytest.raises(ValueError, match="out of"):
        exact_order_stats(df, "v", [3])
    with _pytest.raises(ValueError, match="non-empty"):
        exact_order_stats(df, "v", [])
    empty = spark.createDataFrame([], "doc_id long, v long")
    assert exact_order_stats(empty, "v", [1]).count() == 0


def test_plan_shards_matches_sequential_definition(spark):
    import pytest as _pytest

    from outage_data_scraper_spark.operators.shards import plan_shards, shard_manifest

    rng_sizes = [(i, 37 + (i * 97) % 400) for i in range(1000)]
    df = spark.createDataFrame(rng_sizes, "doc_id long, sz long").repartition(16)
    budget = 3000
    for chunk in (16, 64, 4096):
        got = {
            r.doc_id: r.shard_id
            for r in plan_shards(df, "sz", "doc_id", budget, chunk=chunk).collect()
        }
        cum = 0
        want = {}
        for i, s in rng_sizes:
            want[i] = cum // budget
            cum += s
        assert got == want, f"chunk={chunk}"
    man = shard_manifest(plan_shards(df, "sz", "doc_id", budget), "doc_id").collect()
    # shards are contiguous doc ranges; no shard exceeds budget + max doc
    by_id = sorted(man, key=lambda r: r.shard_id)
    mx = max(s for _, s in rng_sizes)
    for i, r in enumerate(by_id):
        assert r.bytes <= budget + mx
        if i:
            assert r.first == by_id[i - 1].last + 1
    with _pytest.raises(ValueError):
        plan_shards(df, "sz", "doc_id", 0)


def test_dsir_weights_favor_target_language(spark):
    """q94 semantics: the importance weight (source NLL − target NLL
    under frozen bigram models) must be higher for target-language
    docs than for off-target docs on average — the signal DSIR selects
    on. Distinct function words make the two sub-corpora separable."""
    import random

    from pyspark.sql import functions as F

    from outage_data_scraper_spark.operators.lm import (
        score_bigram_lm_table,
        train_bigram_lm_table,
    )

    rng = random.Random(94)
    # LOW-perplexity phrase structure (random tokens are high-perplexity
    # under every model and wash the signal out): target-language
    # bigrams are frequent in the target model, unseen xx bigrams pay
    # ~ln(V_target) per step
    en = ["the house by the river", "a light over the hill",
          "the river under the light"]
    xx = ["das haus an dem fluss", "ein licht uber dem berg",
          "der fluss unter dem licht"]
    rows = []
    for i in range(40):
        phrases = en if i % 2 == 0 else xx
        rows.append(
            (i, " ".join(rng.choice(phrases) for _ in range(6)),
             "en" if i % 2 == 0 else "xx")
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    import tempfile

    base = tempfile.mkdtemp(prefix="dsir_test_")
    train_bigram_lm_table(docs.filter(F.col("lang") == "en"), base + "/t")
    train_bigram_lm_table(docs, base + "/s")
    t = score_bigram_lm_table(docs, base + "/t").select(
        "doc_id", F.col("avg_nll").alias("tn")
    )
    s = score_bigram_lm_table(docs, base + "/s").select(
        "doc_id", F.col("avg_nll").alias("sn")
    )
    w = {
        r.doc_id: r.sn - r.tn for r in t.join(s, "doc_id").collect()
    }
    w_en = sum(v for k, v in w.items() if k % 2 == 0) / 20
    w_xx = sum(v for k, v in w.items() if k % 2 == 1) / 20
    assert w_en > 0 > w_xx, (w_en, w_xx)


def test_nb_classifier_separates_planted_classes(spark):
    """Hand-checkable NB: label is doc_id-based; positive docs use one
    vocabulary, negative another, one shared filler token. Exclusive
    tokens must push scores to the correct sign; the shared token's
    weight is near zero and cannot flip a doc."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.operators.classifier import nb_quality_scores

    rows = []
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, "good clean prose filler good clean prose"))
        else:
            rows.append((i, "spam junk noise filler spam junk noise"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_tokens, r.score_micro, r.predicted_keep)
        for r in nb_quality_scores(docs, F.col("doc_id") % 2 == 0).collect()
    }
    assert len(out) == 20
    for i, (n, s, keep) in out.items():
        assert n == 7
        if i % 2 == 0:
            assert s > 0 and keep, (i, s)
        else:
            assert s < 0 and not keep, (i, s)
    # symmetric corpus: scores mirror exactly
    assert out[0][1] == -out[1][1]


def test_nb_classifier_unseen_token_weight_is_smoothing_only(spark):
    """A token appearing ONLY in the positive class still yields finite
    weights via Laplace smoothing; weight magnitudes match the
    closed-form by hand."""
    import math

    from pyspark.sql import functions as F

    from outage_data_scraper_spark.operators.classifier import nb_quality_scores

    docs = spark.createDataFrame(
        [(0, "alpha alpha"), (1, "beta")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.score_micro
        for r in nb_quality_scores(docs, F.col("doc_id") == 0).collect()
    }
    # vocab = {alpha, beta}, Np = 2, Nn = 1; w(alpha) = ln((3/4)/(1/3)),
    # w(beta) = ln((1/4)/(2/3))
    w_alpha = round(math.log((3 / 4) / (1 / 3)) * 1e6)
    w_beta = round(math.log((1 / 4) / (2 / 3)) * 1e6)
    assert out[0] == 2 * w_alpha
    assert out[1] == w_beta


def test_nb_classifier_plan_broadcasts_counts(spark):
    """NB scoring: the vocab count table joins by broadcast, and the
    SCORING plan carries exactly ONE shuffle exchange (the per-doc
    regroup) — the training agg ran eagerly at the localCheckpoint, so
    it is lineage-truncated out of the scoring pass, which is the
    100 TB property: re-scoring never re-trains."""
    from pyspark.sql import functions as F

    from outage_data_scraper_spark.operators.classifier import nb_quality_scores
    from outage_data_scraper_spark.plans import (
        assert_broadcast_join,
        count_exchanges,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "c d e")], "doc_id long, text string"
    )
    out = nb_quality_scores(docs, F.col("doc_id") == 0)
    assert_broadcast_join(out, n_min=1)
    assert count_exchanges(out) == 1


def test_allocate_quotas_hand_case(spark):
    """Hamilton on (a:3, b:3, c:1), budget 5: bases 2/2/0, the single
    leftover unit goes to c (largest remainder 5/7)."""
    from outage_data_scraper_spark.operators.sampling import allocate_quotas

    df = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 3 + [("c",)], "grp string"
    )
    out = {r.grp: (r.n_items, r.quota) for r in allocate_quotas(df, "grp", 5).collect()}
    assert out == {"a": (3, 2), "b": (3, 2), "c": (1, 1)}


def test_allocate_quotas_tie_goes_to_smallest_group(spark):
    """Equal remainders: the lexically smallest group takes the unit."""
    from outage_data_scraper_spark.operators.sampling import allocate_quotas

    df = spark.createDataFrame([("a",), ("b",)], "grp string")
    out = {r.grp: r.quota for r in allocate_quotas(df, "grp", 3).collect()}
    assert out == {"a": 2, "b": 1}


def test_allocate_quotas_conservation_and_bounds(spark):
    """Σ quota = budget exactly, and every quota is floor(share) or
    floor(share)+1 (the Hamilton quota property); budget 0 → all 0;
    negative budget raises."""
    import pytest as _pytest

    from outage_data_scraper_spark.operators.sampling import allocate_quotas

    rows = [(f"g{i % 7}",) for i in range(123)]
    df = spark.createDataFrame(rows, "grp string")
    for budget in (0, 1, 6, 7, 100, 123, 1000):
        got = allocate_quotas(df, "grp", budget).collect()
        assert sum(r.quota for r in got) == budget
        total = sum(r.n_items for r in got)
        for r in got:
            lo = (budget * r.n_items) // total
            assert lo <= r.quota <= lo + 1
    with _pytest.raises(ValueError):
        allocate_quotas(df, "grp", -1)


def test_aggregate_anchor_text_hand_case(spark):
    """t1: anchor 'a' ×2 (two srcs) beats 'b' ×1; t2: 1-1 tie between
    'x' and 'y' → lexically smallest wins."""
    from outage_data_scraper_spark.operators.graph import aggregate_anchor_text

    links = spark.createDataFrame(
        [
            (1, 10, "a"),
            (2, 10, "a"),
            (3, 10, "b"),
            (1, 20, "y"),
            (2, 20, "x"),
        ],
        "src long, dst long, anchor string",
    )
    out = {r.dst: r for r in aggregate_anchor_text(links).collect()}
    t1, t2 = out[10], out[20]
    assert (t1.n_inlinks, t1.n_src, t1.n_anchors) == (3, 3, 2)
    assert (t1.top_anchor, t1.top_anchor_count) == ("a", 2)
    assert (t2.top_anchor, t2.top_anchor_count) == ("x", 1)
    assert t2.n_anchors == 2


def test_aggregate_anchor_text_repeat_src(spark):
    """The same src linking twice counts 2 in-links but 1 distinct src."""
    from outage_data_scraper_spark.operators.graph import aggregate_anchor_text

    links = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b")], "src long, dst long, anchor string"
    )
    r = aggregate_anchor_text(links).collect()[0]
    assert (r.n_inlinks, r.n_src, r.n_anchors) == (2, 1, 2)


def test_score_bigram_lm_table_with_micro_consistent(spark, tmp_path):
    """with_micro exposes the raw micro-nat sum; avg_nll must equal
    round(sum/(n·1e6), 4) exactly (same aggregate, not a re-derivation),
    and the default schema is unchanged."""
    from outage_data_scraper_spark.operators.lm import (
        score_bigram_lm_table,
        train_bigram_lm_table,
    )

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "b c b c"), (2, "a a a a")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "m")
    train_bigram_lm_table(docs, path)
    assert score_bigram_lm_table(docs, path).columns == [
        "doc_id", "n_bigrams", "avg_nll",
    ]
    for r in score_bigram_lm_table(docs, path, with_micro=True).collect():
        assert r.avg_nll == round(r.sum_micro_nll / (r.n_bigrams * 1e6), 4)
        assert r.sum_micro_nll >= 0


def test_perplexity_tertile_floor_guarantees(spark):
    """q107's label law over the sf0.001 corpus: thresholds are exact
    order statistics, so |head| ≥ ceil(n/3), |head|+|middle| ≥
    ceil(2n/3), and every bucket respects its threshold bounds."""
    import __spark_entry__ as entrymod

    out = entrymod.q107_perplexity_tertiles(
        spark, "/root/testdata/sf0.001"
    ).collect()
    n = len(out)
    k1, k2 = (n + 2) // 3, (2 * n + 2) // 3
    head = [r.ppl_micro for r in out if r.bucket == "head"]
    mid = [r.ppl_micro for r in out if r.bucket == "middle"]
    tail = [r.ppl_micro for r in out if r.bucket == "tail"]
    assert len(head) >= k1 and len(head) + len(mid) >= k2
    assert n == len(head) + len(mid) + len(tail)
    if head and mid:
        assert max(head) <= min(mid)
    if mid and tail:
        assert max(mid) < min(tail)
    if head and tail:
        assert max(head) < min(tail)


def test_hits_micro_star_graph(spark):
    """Two hubs pointing at one authority: fixpoint lands exactly at
    hub=unit for the pointers, auth=unit for the target, zeros
    elsewhere — and is stable across rounds."""
    from outage_data_scraper_spark.operators.graph import hits_micro

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    edges = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    for it in (1, 3):
        out = {r.node: r for r in hits_micro(edges, nodes, n_iter=it).collect()}
        assert (out[1].hub_micro, out[2].hub_micro, out[3].hub_micro) == (
            1_000_000, 1_000_000, 0,
        )
        assert (out[1].auth_micro, out[2].auth_micro, out[3].auth_micro) == (
            0, 0, 1_000_000,
        )


def test_hits_micro_edgeless_and_max_normalization(spark):
    """No edges → all zeros after round 1; with edges, the max hub and
    max authority sit at exactly unit every round."""
    from outage_data_scraper_spark.operators.graph import hits_micro

    nodes = spark.createDataFrame([(i,) for i in range(5)], "node long")
    none = spark.createDataFrame([], "src long, dst long")
    for r in hits_micro(none, nodes, n_iter=2).collect():
        assert r.hub_micro == 0 and r.auth_micro == 0
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (3, 2), (4, 2)], "src long, dst long"
    )
    rows = hits_micro(edges, nodes, n_iter=3).collect()
    assert max(r.hub_micro for r in rows) == 1_000_000
    assert max(r.auth_micro for r in rows) == 1_000_000
    assert all(0 <= r.hub_micro <= 1_000_000 for r in rows)


def test_triangle_count_hand_cases(spark):
    """K3 → every node 1; K4 → every node 3 (C(3,2)); a star closes
    none; duplicate/reversed/self edges collapse first."""
    from outage_data_scraper_spark.operators.graph import triangle_count

    def run(pairs, node_ids):
        edges = spark.createDataFrame(pairs, "a long, b long")
        nodes = spark.createDataFrame([(i,) for i in node_ids], "node long")
        return {r.node: r.n_triangles for r in triangle_count(edges, nodes).collect()}

    assert run([(1, 2), (2, 3), (3, 1)], [1, 2, 3]) == {1: 1, 2: 1, 3: 1}
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert run(k4, [1, 2, 3, 4]) == {1: 3, 2: 3, 3: 3, 4: 3}
    star = [(0, i) for i in range(1, 6)]
    assert run(star, list(range(6))) == {i: 0 for i in range(6)}
    messy = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (1, 2)]
    assert run(messy, [1, 2, 3]) == {1: 1, 2: 1, 3: 1}


def test_posting_size_plan_hand_case(spark):
    """Docs 0,1,130 all containing 'w': deltas 1,1,129 → varint bytes
    1+1+2 = 4 vs raw 24; a within-doc repeat adds nothing (distinct
    pairs); empty docs contribute no terms."""
    from outage_data_scraper_spark.operators.index import posting_size_plan

    docs = spark.createDataFrame(
        [(0, "w w x"), (1, "w"), (130, "W"), (131, "   ")],
        "doc_id long, text string",
    )
    out = {r.term: r for r in posting_size_plan(docs).collect()}
    assert set(out) == {"w", "x"}
    assert (out["w"].df, out["w"].raw_bytes, out["w"].varint_bytes) == (3, 24, 4)
    assert (out["x"].df, out["x"].varint_bytes) == (1, 1)


def test_hop_distance_hand_graph(spark):
    """Chain with a shortcut: BFS takes the shorter of the two routes;
    unreachable nodes are absent from the result."""
    from outage_data_scraper_spark.operators.graph import hop_distance

    # 0→1→2→3→4 chain plus shortcut 0→3; 9 is isolated (no inbound)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (9, 9)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.dist for r in hop_distance(edges, seeds).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}


def test_hop_distance_multi_seed_and_cycle(spark):
    """Two seeds, a cycle: each node labels at its min distance over
    both sources; the cycle terminates (delta frontier empties)."""
    from outage_data_scraper_spark.operators.graph import hop_distance

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (10, 2), (10, 11), (11, 12)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,), (10,)], "node long")
    got = {r.node: r.dist for r in hop_distance(edges, seeds).collect()}
    assert got == {0: 0, 10: 0, 1: 1, 2: 1, 11: 1, 12: 2}


def test_hop_distance_matches_python_bfs(spark):
    """Randomized parity vs a driver-side textbook BFS."""
    import collections
    import random

    from outage_data_scraper_spark.operators.graph import hop_distance

    rng = random.Random(7)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    seeds = [0, 17, 41]
    adj = collections.defaultdict(list)
    for s, t in edges:
        adj[s].append(t)
    ref, dq = {s: 0 for s in seeds}, collections.deque(seeds)
    while dq:
        u = dq.popleft()
        for v in adj[u]:
            if v not in ref:
                ref[v] = ref[u] + 1
                dq.append(v)
    got = {
        r.node: r.dist
        for r in hop_distance(
            spark.createDataFrame(edges, "src long, dst long"),
            spark.createDataFrame([(s,) for s in seeds], "node long"),
        ).collect()
    }
    assert got == ref


def test_hop_distance_cap_raises_when_unconverged(spark):
    """A chain longer than max_rounds fails loud unless the cap is made
    explicit with require_convergence=False (then it's a hop-capped
    partial BFS)."""
    import pytest

    from outage_data_scraper_spark.operators.graph import hop_distance

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(ValueError, match="still expanding"):
        hop_distance(edges, seeds, max_rounds=3)
    part = {
        r.node: r.dist
        for r in hop_distance(
            edges, seeds, max_rounds=3, require_convergence=False
        ).collect()
    }
    assert part == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bm25_max_score_is_tight_single_term_bound(spark):
    """For every vocabulary term, ub_u equals the best single-term
    bm25_topk score any doc earns (the expressions are shared), hence
    bounds every contribution the ranker would sum."""
    from outage_data_scraper_spark.operators.index import (
        bm25_max_score_table,
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark joins windows and spark shuffles"),
            (1, "windows windows windows everywhere"),
            (2, "joins beat loops; spark wins"),
            (3, "a completely different document entirely"),
        ],
        "doc_id long, text string",
    )
    tbl = {r.term: (r.df, r.ub_u) for r in bm25_max_score_table(docs).collect()}
    assert tbl  # non-empty vocab
    for term, (df, ub) in tbl.items():
        scores = [
            r.score_u
            for r in bm25_topk(docs, [term], top_k=10).collect()
            if r.score_u is not None
        ]
        assert scores, term
        assert max(scores) == ub, term
        assert len(scores) == df, term


def test_index_segment_merge_equals_full_build(spark):
    """merge(build(A), build(B)) ≡ build(A ∪ B) for a random disjoint
    split with interleaved ids (the numeric posting re-sort matters:
    doc 10 must follow doc 9, not doc 1)."""
    import random

    from outage_data_scraper_spark.operators.index import (
        build_inverted_index,
        merge_inverted_index,
    )

    rng = random.Random(11)
    vocab = ["red", "green", "blue", "cyan"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 9))))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    in_a = {i for i, _ in rows if rng.random() < 0.5}
    a = docs.filter(F.col("doc_id").isin(sorted(in_a)))
    b = docs.filter(~F.col("doc_id").isin(sorted(in_a)))
    for min_df in (1, 2, 4):
        full = {
            r.term: (r.df, r.total_tf, r.postings)
            for r in build_inverted_index(docs, min_df=min_df).collect()
        }
        got = {
            r.term: (r.df, r.total_tf, r.postings)
            for r in merge_inverted_index(
                build_inverted_index(a), build_inverted_index(b), min_df=min_df
            ).collect()
        }
        assert got == full, min_df


def test_index_segment_merge_term_only_in_one_side(spark):
    """A term absent from one segment passes through unchanged."""
    from outage_data_scraper_spark.operators.index import (
        build_inverted_index,
        merge_inverted_index,
    )

    a = spark.createDataFrame([(0, "solo alpha")], "doc_id long, text string")
    b = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    got = {
        r.term: (r.df, r.postings)
        for r in merge_inverted_index(
            build_inverted_index(a), build_inverted_index(b)
        ).collect()
    }
    assert got == {
        "solo": (1, "0:0"),
        "alpha": (2, "0:1,1:0"),
        "beta": (1, "1:1"),
    }


def test_badwords_filter_occurrence_and_phrase_law(spark):
    """Every occurrence counts (twice = 2); phrases match on the
    canonical token stream (case/punctuation folded); docs shorter than
    a phrase emit no n-grams; keep = zero hits."""
    import pytest

    from outage_data_scraper_spark.operators.badwords import badwords_filter

    docs = spark.createDataFrame(
        [
            (0, "clean wholesome text here"),
            (1, "bad stuff and BAD stuff again"),
            (2, "a Very Bad, Phrase appears"),
            (3, "bad"),                # exactly one token, one hit
            (4, "very bad"),           # shorter than the 3-token phrase
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_hits, r.keep)
        for r in badwords_filter(docs, ("bad", "very bad phrase")).collect()
    }
    assert got[0] == (0, True)
    assert got[1] == (2, False)
    # doc 2: the canonical tokenizer is whitespace-only, so "bad,"
    # keeps its comma and neither the word nor the 3-gram matches —
    # the law is the C4 one (list entries must be token-exact)
    assert got[2] == (0, True)
    assert got[3] == (1, False)
    # doc 4 "very bad": too short for the 3-gram, but the single token
    # 'bad' still hits
    assert got[4] == (1, False)
    assert got[5] == (0, True)
    with pytest.raises(ValueError):
        badwords_filter(docs, ("ok", "   "))
    # empty phrase TUPLE must raise cleanly, not crash with
    # AttributeError at plan-build time (r8 advisor finding)
    with pytest.raises(ValueError, match="non-empty"):
        badwords_filter(docs, ())


def test_badwords_filter_punctuation_free_phrase_hits(spark):
    """On punctuation-free text the 3-token phrase matches exactly, at
    every occurrence, across token positions."""
    from outage_data_scraper_spark.operators.badwords import badwords_filter

    docs = spark.createDataFrame(
        [(0, "x very bad phrase y very bad phrase")],
        "doc_id long, text string",
    )
    r = badwords_filter(docs, ("very bad phrase",)).collect()[0]
    assert (r.n_hits, r.keep) == (2, False)


def test_remove_docs_from_index_hand_case(spark):
    """Removing a doc rewrites df/total_tf/postings exactly; a term
    whose posting list empties out drops entirely."""
    from outage_data_scraper_spark.operators.index import (
        build_inverted_index,
        remove_docs_from_index,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "alpha gamma"), (2, "beta")],
        "doc_id long, text string",
    )
    idx = build_inverted_index(docs)
    rm = spark.createDataFrame([(0,)], "doc_id long")
    got = {
        r.term: (r.df, r.total_tf, r.postings)
        for r in remove_docs_from_index(idx, rm).collect()
    }
    assert got == {
        "alpha": (1, 1, "1:0"),
        "beta": (1, 1, "2:0"),
        "gamma": (1, 1, "1:1"),
    }


def test_incremental_refresh_equals_rebuild_randomized(spark):
    """diff-free form of the q126 law on a random corpus: remove a
    random doc subset, re-add them with NEW text via a delta segment,
    merged result == full rebuild of the final state."""
    import random

    from outage_data_scraper_spark.operators.index import (
        build_inverted_index,
        merge_inverted_index,
        remove_docs_from_index,
    )

    rng = random.Random(23)
    vocab = ["ant", "bee", "cat", "dog", "elk"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 7))))
        for i in range(25)
    ]
    changed = {i for i, _ in rows if rng.random() < 0.4}
    newrows = [
        (i, t + " fox" if i in changed else t) for i, t in rows
    ]
    docs_old = spark.createDataFrame(rows, "doc_id long, text string")
    docs_new = spark.createDataFrame(newrows, "doc_id long, text string")
    base = build_inverted_index(docs_old)
    compacted = remove_docs_from_index(
        base, spark.createDataFrame([(i,) for i in sorted(changed)], "doc_id long")
    )
    delta = build_inverted_index(
        docs_new.filter(docs_new.doc_id.isin(sorted(changed)))
    )
    for min_df in (1, 2):
        got = {
            r.term: (r.df, r.total_tf, r.postings)
            for r in merge_inverted_index(compacted, delta, min_df=min_df).collect()
        }
        ref = {
            r.term: (r.df, r.total_tf, r.postings)
            for r in build_inverted_index(docs_new, min_df=min_df).collect()
        }
        assert got == ref, min_df
