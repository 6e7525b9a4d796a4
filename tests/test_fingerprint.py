"""Winnowing fingerprints (operators/fingerprint.py, q85).

The pytest anchor is an INDEPENDENT brute-force reference written here
(explicit per-window argmin with an explicit rightmost-tie rule), so
winnow_py's packed-integer-key trick is gated against the textbook
definition, and the Spark path is gated against winnow_py.
"""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from outage_data_scraper_spark.operators.fingerprint import (
    winnow_fingerprints,
    winnow_py,
)


def _brute(text, k=4, w=4):
    """Textbook winnowing: hash all k-shingles, slide a w-window, pick
    the minimum hash taking the RIGHTMOST position on ties; the
    selected set is (pos, hash), deduplicated."""
    import re

    t = re.sub(r"\s+", " ", text or "", flags=re.ASCII).strip().lower()
    toks = t.split(" ") if t else []
    n_kg = len(toks) - k + 1
    if n_kg <= 0:
        return []
    hs = [
        int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:9], 16)
        for i in range(n_kg)
    ]
    sel = set()
    for j in range(max(1, n_kg - w + 1)):
        win = hs[j : j + w]
        m = min(win)
        # rightmost occurrence of the minimum within the window
        pos = j + max(i for i, h in enumerate(win) if h == m)
        sel.add((pos, m))
    return sorted(sel)


def test_matches_textbook_definition():
    text = "the quick brown fox jumps over the lazy dog and then the quick brown fox naps"
    assert winnow_py(text) == _brute(text)
    assert len(winnow_py(text)) > 0


def test_short_doc_single_window_and_empty():
    # 4 tokens -> exactly one shingle -> it is selected
    one = winnow_py("alpha beta gamma delta")
    assert len(one) == 1 and one[0][0] == 0
    # 5 tokens -> 2 shingles < w -> single window spanning both
    assert len(winnow_py("alpha beta gamma delta epsilon")) == 1
    # under k tokens / empty / None -> nothing
    assert winnow_py("a b c") == []
    assert winnow_py("") == []
    assert winnow_py(None) == []
    assert winnow_py("   \t \n ") == []


def test_rightmost_tie_rule():
    # identical shingles hash identically; with w=4 over a run of equal
    # hashes the selected position must be the RIGHTMOST in each window
    text = " ".join(["tok"] * 10)  # 7 identical shingles
    got = winnow_py(text)
    assert got == _brute(text)
    # every window's min is the same hash; rightmost-tie means the
    # selected positions are the window-END positions, so pos 0..2
    # (only ever leftmost in some window) must be absent
    assert all(pos >= 3 for pos, _ in got)


def test_shared_run_guarantee():
    """Winnowing law: a shared token run >= w + k - 1 (= 7) tokens
    implies at least one shared (hash) fingerprint."""
    shared = "zeta eta theta iota kappa lambda mu"  # 7 tokens
    a = "one two three four five " + shared + " six seven eight nine"
    b = "apple banana cherry " + shared + " date elderberry fig grape"
    fa = {fp for _, fp in winnow_py(a)}
    fb = {fp for _, fp in winnow_py(b)}
    assert fa & fb


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd \t", min_size=0, max_size=6), min_size=0, max_size=40
    )
)
def test_fuzz_matches_textbook(parts):
    text = " ".join(parts)
    assert winnow_py(text) == _brute(text)


@pytest.mark.usefixtures("spark")
def test_spark_matches_python_twin(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and naps"),
        (2, "  Mixed   CASE \t whitespace   doc with  six tokens here  "),
        (3, "tiny doc"),
        (4, ""),
        (5, None),
        (6, " ".join(["rep"] * 12)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(df).collect()
    }
    want = {
        (i, pos, fp) for i, t in rows for pos, fp in winnow_py(t)
    }
    assert got == want


def test_overlap_planted_pair_and_df_cutoff(spark):
    from outage_data_scraper_spark.operators.fingerprint import (
        fingerprint_overlap,
    )

    shared = "zeta eta theta iota kappa lambda mu nu xi omicron"
    boiler = "all rights reserved copyright two thousand twenty four inc"
    rows = [
        (1, "one two three four five " + shared + " six seven eight"),
        (2, "apple banana cherry date " + shared + " elderberry fig"),
        # three IDENTICAL pure-boilerplate docs: identical text means
        # identical selections (selection is context-dependent, so only
        # exact replicas guarantee identical fp sets), every fp has
        # df=3 > max_df=2 and is dropped — no (3,4)/(3,5)/(4,5) pairs —
        # while the df=2 shared-run fps of (1,2) survive
        (3, boiler),
        (4, boiler),
        (5, boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in fingerprint_overlap(df, min_shared=1, max_df=2).collect()
    }
    assert (1, 2) in got  # >= w+k-1 shared run guarantees a shared fp
    assert all(p == (1, 2) for p in got)  # boilerplate-only pairs cut

    # with the cutoff relaxed the boilerplate pairs appear
    loose = {
        (r.id_a, r.id_b)
        for r in fingerprint_overlap(df, min_shared=1, max_df=50).collect()
    }
    assert (4, 5) in loose


def test_overlap_no_cartesian(spark):
    from outage_data_scraper_spark.operators.fingerprint import (
        fingerprint_overlap,
    )
    from outage_data_scraper_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    plan = formatted_plan(fingerprint_overlap(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zero_wide_shuffle_plan(spark):
    """The fingerprint pass is a pure per-doc projection: the only
    Exchange ever allowed is shape.spread's small-input RoundRobin
    repartition (a no-op on scans already yielding >= cores splits —
    it exists so the Python winnow pass doesn't serialize into a
    one-split scan task); no hash/range exchange may appear."""
    from outage_data_scraper_spark.plans import formatted_plan

    df = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    plan = formatted_plan(winnow_fingerprints(df))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_winnow_string_doc_id_passthrough(spark):
    """The mapInPandas output id column keeps the INPUT id type (r6
    advisor finding: it was hard-coded long)."""
    df = spark.createDataFrame(
        [("docA", "a b c d e f g h"), ("docB", "x y z w v u t s")],
        "doc_id string, text string",
    )
    out = winnow_fingerprints(df)
    assert dict(out.dtypes)["doc_id"] == "string"
    ids = {r.doc_id for r in out.collect()}
    assert ids == {"docA", "docB"}


def test_fingerprint_clusters_planted_cliques(spark):
    """q89 composition: planted replica cliques {0,1,2} and {5,6} must
    come out as components labeled by their minimum doc_id with only
    the canonical doc kept; unique docs stay singletons. Exact replicas
    (selection is context-dependent — CLAUDE.md)."""
    from outage_data_scraper_spark.operators.dedup import connected_components
    from outage_data_scraper_spark.operators.fingerprint import (
        fingerprint_overlap,
    )
    from pyspark.sql import functions as F

    rep_a = "the quick brown fox jumps over the lazy dog again and again"
    rep_b = "pack my box with five dozen liquor jugs every single day now"
    rows = [
        (0, rep_a), (1, rep_a), (2, rep_a),
        (3, "completely unrelated text about mountains rivers and valleys here"),
        (4, "another fully distinct document speaking of oceans and tides only"),
        (5, rep_b), (6, rep_b),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = fingerprint_overlap(docs, k=4, w=4, min_shared=2, max_df=50).select(
        "id_a", "id_b"
    )
    comp = connected_components(pairs)
    out = {
        r.doc_id: (r.component, r.keep)
        for r in docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("component"),
            (F.coalesce("label", "doc_id") == F.col("doc_id")).alias("keep"),
        )
        .collect()
    }
    assert out == {
        0: (0, True), 1: (0, False), 2: (0, False),
        3: (3, True), 4: (4, True),
        5: (5, True), 6: (5, False),
    }
