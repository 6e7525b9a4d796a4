"""WARC source connector tests (sources/warc.py).

The reference fetches live pages one URL at a time (ga_scraper.py's
per-URL requests loop) and has no archive ingestion; this connector is
the Common-Crawl-style batch loader for the canonical pages table.
Covers record framing, HTTP payload parsing, member-wise gzip resync,
per-record failure isolation, and the distributed read path.
"""

import os
import shutil

import pytest

from outage_data_scraper_spark.parsers.families import parse_cc
from outage_data_scraper_spark.sources import warc


def _recs(n, start=0):
    return [
        {
            "url": f"http://ex-{i}.com/p",
            "ts": f"2024-03-{1 + i % 28:02d}T12:00:{i % 60:02d}Z",
            "html": (
                f"<html><head><style>a{{}}</style></head><body><h1>T{i}</h1>"
                f"<p>word{i} the and of</p><script>x={i}</script></body></html>"
            ).encode(),
        }
        for i in range(start, start + n)
    ]


def test_roundtrip_gzip_and_plain():
    recs = _recs(8)
    for member_per_record in (True, False):
        blob = warc.synth_warc(recs, member_per_record=member_per_record)
        rows = warc.warc_blob_to_rows(blob, "f")
        assert [r["url"] for r in rows] == [r["url"] for r in recs]
        assert all(r["http_status"] == 200 and r["mime"] == "text/html" for r in rows)
        assert rows[0]["warc_ts"].isoformat() == "2024-03-01T12:00:00"
        # extracted text is EXACTLY the parse_cc invariant over the body
        for i, (r, src) in enumerate(zip(rows, recs)):
            assert r["text"] == parse_cc(src["html"])[2]
            assert r["text"] == f"T{i} word{i} the and of"


def test_non_response_records_skipped():
    blob = warc.synth_warc(_recs(2), member_per_record=False)
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
        b"WARC-Target-URI: http://ex-0.com/skip\r\n"
        b"Content-Type: application/http; msgtype=request\r\n"
        b"Content-Length: 18\r\n\r\nGET /skip HTTP/1.1\r\n\r\n"
    )
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: 10\r\n\r\nrobots: ok\r\n\r\n"
    )
    rows = warc.warc_blob_to_rows(info + blob + req)
    assert [r["url"] for r in rows] == ["http://ex-0.com/p", "http://ex-1.com/p"]


def test_corrupt_gzip_member_drops_only_itself():
    import re

    blob = bytearray(warc.synth_warc(_recs(6)))
    bounds = [m.start() for m in re.finditer(b"\x1f\x8b\x08", bytes(blob))]
    assert len(bounds) == 6
    blob[bounds[2] + 40] ^= 0xFF
    urls = [r["url"] for r in warc.warc_blob_to_rows(bytes(blob))]
    assert urls == [f"http://ex-{i}.com/p" for i in (0, 1, 3, 4, 5)]


def test_malformed_framing_skips_per_record():
    good = warc.synth_warc(_recs(2), member_per_record=False)
    bad_len = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
        b"WARC-Target-URI: http://bad.com/\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: NOT_A_NUMBER\r\n\r\nxxxx\r\n\r\n"
    )
    truncated = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
        b"WARC-Target-URI: http://trunc.com/\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: 99999\r\n\r\nshort"
    )
    rows = warc.warc_blob_to_rows(bad_len + good + truncated)
    assert [r["url"] for r in rows] == ["http://ex-0.com/p", "http://ex-1.com/p"]
    # fuzz: random corruption never raises
    import random

    rng = random.Random(3)
    base = warc.synth_warc(_recs(4))
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
        warc.warc_blob_to_rows(bytes(b))  # must not raise


def test_http_payload_parse_variants():
    s, m, cs, body = warc._parse_http_payload(
        b"HTTP/1.1 301 Moved\r\nLocation: /x\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n\r\n<b>x</b>"
    )
    assert (s, m, cs, body) == (301, "text/html", "utf-8", b"<b>x</b>")
    s, m, cs, body = warc._parse_http_payload(b"no http header here")
    assert s == 0 and body == b"no http header here"


def test_declared_charset_transcodes_for_extraction():
    """A latin-1 page keeps its RAW bytes in `html` but extracts text
    through the declared encoding; unknown charsets fall back to the
    utf-8-replace path instead of raising."""
    body = "<html><body>caf\xe9 r\xe9sum\xe9</body></html>".encode("iso-8859-1")
    rec = [{
        "url": "http://latin1.example.com/",
        "ts": "2024-03-05T00:00:00Z",
        "html": body,
        "mime": "text/html; charset=ISO-8859-1",
    }]
    rows = warc.warc_blob_to_rows(warc.synth_warc(rec))
    assert rows[0]["html"] == body  # archive bytes untouched
    assert rows[0]["text"] == "café résumé"
    assert rows[0]["mime"] == "text/html"
    # undeclared: mojibake-replace, never an exception
    rec[0]["mime"] = "text/html"
    assert "caf" in warc.warc_blob_to_rows(warc.synth_warc(rec))[0]["text"]
    # unknown charset label: falls back to raw bytes
    rec[0]["mime"] = "text/html; charset=not-a-real-charset"
    assert "caf" in warc.warc_blob_to_rows(warc.synth_warc(rec))[0]["text"]


def test_read_warc_distributed(spark, tmp_path):
    d = str(tmp_path / "warcs")
    os.makedirs(d)
    for name, blob in warc.synth_warc_corpus():
        with open(os.path.join(d, name), "wb") as f:
            f.write(blob)
    pages = warc.read_warc(spark, d)
    rows = pages.collect()
    assert len(rows) == 60  # 61 − the pinned corrupt member
    by_url = {r.url: r for r in rows}
    assert all(r.lang in {"en", "de", "es", "fr"} for r in rows)
    # statuses/mimes survive the HTTP parse
    assert {r.http_status for r in rows} == {200, 404}
    assert {r.mime for r in rows} == {"text/html", "text/plain"}
    # byte-identity: html column is the exact response body
    src = {
        r["url"]: r
    for name, blob in warc.synth_warc_corpus()
        for r in warc.warc_blob_to_rows(blob, name)
    }
    for url, r in by_url.items():
        assert bytes(r.html) == src[url]["html"]
        assert r.text == src[url]["text"]


def test_warc_to_pages_canonical_and_catalog_append(spark, tmp_path):
    """An archive batch must land in the SAME pages table the live
    crawler writes: canonical column set + the warc_day partition spec,
    appended through SnapshotCatalog."""
    from outage_data_scraper_spark.catalog import SnapshotCatalog

    d = str(tmp_path / "warcs")
    os.makedirs(d)
    for name, blob in warc.synth_warc_corpus():
        with open(os.path.join(d, name), "wb") as f:
            f.write(blob)
    pages = warc.warc_to_pages(warc.read_warc(spark, d))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang", "warc_day"]
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cat.write("pages", pages, wave=0, partition_by=["warc_day"])
    back = cat.read(spark, "pages")
    assert back.count() == 60
    assert set(back.columns) >= {"url", "warc_ts", "text", "lang"}


def test_large_corrupt_member_drops_whole_not_partial():
    """A >1MB member corrupted past the chunk boundary must drop WHOLE:
    committing its partial output would splice other records' bytes
    into one Frankenstein record and swallow the good records behind it."""
    import hashlib as _hl

    # incompressible body so the COMPRESSED member exceeds the 1MB chunk
    big_html = b"<html><body>" + b"".join(
        _hl.sha256(i.to_bytes(4, "big")).digest() for i in range(60_000)
    ) + b"</body></html>"
    recs = [{"url": "http://big.com/", "ts": "2024-03-01T00:00:00Z", "html": big_html}]
    recs += _recs(5)
    blob = bytearray(warc.synth_warc(recs))
    import re

    bounds = [m.start() for m in re.finditer(b"\x1f\x8b\x08", bytes(blob))]
    blob[bounds[0] + (1 << 20) + 100] ^= 0xFF  # corrupt beyond CHUNK
    rows = warc.warc_blob_to_rows(bytes(blob))
    assert [r["url"] for r in rows] == [f"http://ex-{i}.com/p" for i in range(5)]
    for r, src in zip(rows, _recs(5)):  # byte-identity intact for survivors
        assert r["html"] == src["html"]


def test_warc11_fractional_second_dates_parse():
    assert warc._parse_warc_ts("2024-03-01T12:00:00.123Z") is not None
    assert warc._parse_warc_ts("2024-03-01T12:00:00Z") is not None
    assert warc._parse_warc_ts("not-a-date") is None


def test_write_warc_roundtrip_lossless(spark, tmp_path):
    """crawl → write_warc → read_warc is lossless: every (url, html)
    survives bit-exactly, statuses/mimes preserved, manifest counts
    add up — a WARC archive is a valid cold-storage form of pages."""
    from outage_data_scraper_spark.sources.warc import (
        read_warc,
        synth_warc_corpus,
        write_warc,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    for name, blob in synth_warc_corpus():
        (src_dir / name).write_bytes(blob)
    pages = read_warc(spark, str(src_dir)).cache()
    n_src = pages.count()

    out_dir = tmp_path / "export"
    manifest = write_warc(pages, str(out_dir), num_files=3).collect()
    assert sum(m.n_records for m in manifest) == n_src
    assert all(m.n_bytes > 0 for m in manifest)
    assert len(list(out_dir.glob("*.warc.gz"))) == len(manifest)

    back = read_warc(spark, str(out_dir))
    import hashlib

    def key(r):
        return (r.url, hashlib.md5(bytes(r.html)).hexdigest(),
                r.http_status, r.mime)

    assert sorted(key(r) for r in back.collect()) == sorted(
        key(r) for r in pages.collect()
    )


def test_write_warc_empty_partitions(spark, tmp_path):
    """Empty partitions write no file and emit no manifest row."""
    from outage_data_scraper_spark.sources.warc import read_warc, write_warc

    from outage_data_scraper_spark.sources.warc import synth_warc

    blob = synth_warc(
        [{"url": "http://a/x", "ts": "2024-03-01T00:00:00Z",
          "html": b"<html><body>one</body></html>"}]
    )
    src = tmp_path / "one"
    src.mkdir()
    (src / "a.warc.gz").write_bytes(blob)
    pages = read_warc(spark, str(src))
    out = tmp_path / "exp"
    manifest = write_warc(pages.repartition(8), str(out)).collect()
    assert sum(m.n_records for m in manifest) == 1
    assert len(list(out.glob("*.warc.gz"))) == len(manifest)
