"""URL column-function semantics (engine addition; SURVEY.md §4.3)."""

from collections import Counter

from pyspark.sql import functions as F

from outage_data_scraper_spark.functions import urlkit


def _one(spark, url, col):
    return spark.createDataFrame([(url,)], "url string").select(
        col(F.col("url")).alias("v")
    ).first()["v"]


def test_host_keeps_port_and_lowercases(spark):
    # ports are distinct endpoints in the reference seed set
    # (events/tx/layout_8.json: http://outages.bcec.com:89/)
    assert _one(spark, "http://Outages.BCEC.com:89/x", urlkit.host) == "outages.bcec.com:89"
    assert _one(spark, "https://a.b.com/p?q=1", urlkit.host) == "a.b.com"


def test_canonicalize_strips_fragment_lowers_authority(spark):
    assert (
        _one(spark, "HTTPS://A.B.Com/Path/X?q=Z#frag", urlkit.canonicalize)
        == "https://a.b.com/Path/X?q=Z"
    )


def test_canonicalize_bare_host(spark):
    assert _one(spark, "http://h.com", urlkit.canonicalize) == "http://h.com"
    assert _one(spark, "http://h.com/", urlkit.canonicalize) == "http://h.com/"


def test_salted_part_co_locates_host(spark):
    df = spark.createDataFrame(
        [(f"https://hot.example.com/{i}", i + 1) for i in range(50)],
        "url string, rn int",
    ).select(
        urlkit.salted_part(
            urlkit.host(F.col("url")), 32, F.col("rn"), F.lit(4)
        ).alias("p")
    )
    sizes = Counter(r["p"] for r in df.collect())
    # one host spreads over at most `lanes` partitions ...
    assert 1 <= len(sizes) <= 4
    # ... and (rn-1) mod lanes splits its rows evenly across them (±1)
    assert len(sizes) == 4 and max(sizes.values()) - min(sizes.values()) <= 1


def test_registered_domain_suffix_law(spark):
    cases = {
        "h3.shop.co.uk": "shop.co.uk",       # two-level suffix -> 3 labels
        "a.b.example.com": "example.com",    # plain TLD -> 2 labels
        "example.com": "example.com",        # already registered-domain
        "h1.synth.net:8080": "synth.net",    # port stripped first
        "co.uk": "co.uk",                    # at suffix size: returned whole
        "deep.x.mirror.com.au": "mirror.com.au",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {
        r.host: r.rd
        for r in df.select(
            "host", urlkit.registered_domain(F.col("host")).alias("rd")
        ).collect()
    }
    assert got == cases
