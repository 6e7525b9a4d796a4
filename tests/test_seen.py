"""URL-seen set: exact anti-join vs Bloom fast path.

Invariant (SURVEY.md §7.3 Bloom-vs-exact duality): the Bloom path may
suppress extra URLs (false positives) but must never *keep* a URL the
exact path drops — false positives only suppress re-fetches, matching the
reference's `visited` semantics (il_scraper.py:200–204).
"""

import numpy as np
import pytest

from outage_data_scraper_spark.frontier.seen import (
    BloomFilter,
    bloom_from_df,
    filter_unseen_exact,
    filter_unseen_sketch,
)


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_exact_anti_join(spark):
    cand = _urls(spark, [f"https://h/{i}" for i in range(10)])
    seen = _urls(spark, [f"https://h/{i}" for i in range(0, 10, 2)])
    kept = {r.url for r in filter_unseen_exact(cand, seen).collect()}
    assert kept == {f"https://h/{i}" for i in range(1, 10, 2)}


def test_exact_anti_join_ignores_seen_side_multiplicity(spark):
    """The seen side is joined as given (no distinct): a left-anti join
    keeps the same candidate rows, duplicates included, whether the seen
    keys repeat or not."""
    cand = _urls(spark, [f"https://h/{i % 7}" for i in range(20)])
    seen = [f"https://h/{i}" for i in range(0, 10, 2)]

    def kept(seen_urls):
        return sorted(r.url for r in filter_unseen_exact(cand, _urls(spark, seen_urls)).collect())

    assert kept(seen * 3) == kept(seen) == sorted(
        f"https://h/{i % 7}" for i in range(20) if (i % 7) % 2
    )


def test_bloom_no_false_negatives_and_subset_of_exact(spark):
    seen_urls = [f"https://seen.example/{i}" for i in range(2000)]
    cand_urls = seen_urls[:500] + [f"https://new.example/{i}" for i in range(2000)]
    seen = _urls(spark, seen_urls)
    cand = _urls(spark, cand_urls)

    bloom = bloom_from_df(seen, fpp=1e-3)
    kept_bloom = {r.url for r in filter_unseen_sketch(cand, bloom).collect()}
    kept_exact = {r.url for r in filter_unseen_exact(cand, seen).collect()}

    # no false negatives: every seen URL is suppressed
    assert not (kept_bloom & set(seen_urls))
    # bloom keeps a subset of what exact keeps (fp only suppress)
    assert kept_bloom <= kept_exact
    # fpp budget: ≤ 1% of the 2000 new URLs wrongly suppressed
    assert len(kept_exact - kept_bloom) <= 20


def test_bloom_schema_preserved(spark):
    seen = _urls(spark, ["https://a/1"])
    cand = spark.createDataFrame(
        [("https://a/1", 1), ("https://b/2", 2)], "url string, k int"
    )
    bloom = bloom_from_df(seen)
    out = filter_unseen_sketch(cand, bloom)
    assert out.columns == ["url", "k"]
    assert [r.k for r in out.collect()] == [2]


def test_bloom_from_df_equals_driver_side_build(spark):
    """OR is order-free: the per-partition build + tree merge must give
    the bitset a driver-side add over the same hashes gives."""
    from outage_data_scraper_spark.frontier.seen import _H1, _H2, _with_hash_cols

    df = _urls(spark, [f"https://t.example/{i}" for i in range(3000)]).repartition(7)
    assert df.rdd.getNumPartitions() > 1
    built = bloom_from_df(df, expected_n=3000, fpp=1e-3)
    rows = _with_hash_cols(df).select(_H1, _H2).collect()
    twin = BloomFilter.sized(3000, 1e-3)
    twin.add_hashes(
        np.array([r[0] for r in rows], dtype=np.int64),
        np.array([r[1] for r in rows], dtype=np.int64),
    )
    assert (built.m, built.k) == (twin.m, twin.k)
    assert built.to_bytes() == twin.to_bytes()


@pytest.mark.parametrize("fpp", [1.5, 1.0, 0.0, -0.1])
def test_bloom_sized_rejects_fpp_outside_unit_interval(fpp):
    with pytest.raises(ValueError, match="fpp"):
        BloomFilter.sized(1000, fpp)


def test_cuckoo_no_false_negatives_and_subset_of_exact(spark):
    from outage_data_scraper_spark.frontier.seen import cuckoo_from_df

    seen_urls = [f"https://seen.example/{i}" for i in range(2000)]
    cand_urls = seen_urls[:500] + [f"https://new.example/{i}" for i in range(2000)]
    seen = _urls(spark, seen_urls)
    cand = _urls(spark, cand_urls)
    cf = cuckoo_from_df(seen)
    kept = {r.url for r in filter_unseen_sketch(cand, cf).collect()}
    exact = {r.url for r in filter_unseen_exact(cand, seen).collect()}
    # zero false negatives: every seen URL suppressed
    assert not (kept & set(seen_urls))
    # may only suppress EXTRA urls vs exact, never keep extras
    assert kept <= exact
    # and at 16-bit fingerprints the suppression budget is tiny
    assert len(exact - kept) <= 2


def test_cuckoo_delete_enables_recrawl(spark):
    """The cuckoo path's reason to exist: un-seeing URLs lets a scheduled
    re-crawl fetch them again — impossible with a Bloom bitset."""
    from outage_data_scraper_spark.frontier.seen import (
        cuckoo_from_df,
        unsee_urls,
    )

    urls = [f"https://h.example/{i}" for i in range(500)]
    cf = cuckoo_from_df(_urls(spark, urls))
    recrawl = urls[:40]
    assert unsee_urls(cf, _urls(spark, recrawl)) == 40
    kept = {r.url for r in filter_unseen_sketch(_urls(spark, urls), cf).collect()}
    assert set(recrawl) <= kept            # re-crawl list passes again
    assert len(kept) <= len(recrawl) + 1   # everything else still suppressed


def test_cuckoo_merge_by_reinsertion():
    import numpy as np

    from outage_data_scraper_spark.frontier.seen import CuckooFilter

    rng = np.random.default_rng(11)
    h1a, h2a = rng.integers(-2**62, 2**62, (2, 3000))
    h1b, h2b = rng.integers(-2**62, 2**62, (2, 3000))
    a, b = CuckooFilter.sized(8000), CuckooFilter.sized(8000)
    a.add_hashes(h1a, h2a)
    b.add_hashes(h1b, h2b)
    m = a.merge(b)
    assert m.contains_hashes(h1a, h2a).all()
    assert m.contains_hashes(h1b, h2b).all()


def test_sketch_merge_shape_mismatch_raises():
    """Merging sketches of different shapes is a settings error (a crawl
    resumed with other Bloom sizing), reported as ValueError, not an
    assert."""
    from outage_data_scraper_spark.frontier.seen import CuckooFilter

    a, b = BloomFilter.sized(1000, 1e-4), BloomFilter.sized(100_000, 1e-4)
    with pytest.raises(ValueError, match=rf"\({a.m}, {a.k}\) vs \({b.m}, {b.k}\)"):
        a.merge(b)
    with pytest.raises(ValueError, match="other settings"):
        CuckooFilter.sized(1000).merge(CuckooFilter.sized(8000))


def test_cuckoo_roundtrip_and_capacity():
    import numpy as np
    import pytest as _pytest

    from outage_data_scraper_spark.frontier.seen import CuckooFilter

    rng = np.random.default_rng(13)
    h1, h2 = rng.integers(-2**62, 2**62, (2, 1000))
    cf = CuckooFilter.sized(1000)
    cf.add_hashes(h1, h2)
    back = CuckooFilter.from_bytes(cf.m, cf.to_bytes())
    assert back.contains_hashes(h1, h2).all()
    tiny = CuckooFilter(8)  # 32 slots
    with _pytest.raises(RuntimeError):
        tiny.add_hashes(*rng.integers(-2**62, 2**62, (2, 64)))
