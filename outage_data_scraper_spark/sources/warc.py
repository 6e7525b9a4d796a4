"""WARC (ISO 28500) source: Common-Crawl-style `.warc` / `.warc.gz`
ingestion into the canonical pages schema — the loader that builds the
(url, warc_ts, html, text, lang) table everything downstream reads.

Pure-stdlib record parser (no warcio): WARC/1.0 and 1.1, gzip handled
as concatenated members (Common Crawl writes ONE gzip member per record
so ranges can be fetched independently; Python's gzip module reads the
concatenation transparently). Only `WARC-Type: response` records with
an `application/http` payload become pages; request/metadata/warcinfo
records and malformed records are skipped PER RECORD — one corrupt
record never drops the file, let alone the task (O23 discipline).

Scale shape: `spark.read.format("binaryFile")` distributes one WARC
file per task — Common Crawl segments are ~1 GB, the natural partition
unit (a 100 TB crawl is ~10^5 files → 10^5 tasks; set
`spark.sql.files.maxPartitionBytes` high enough that binaryFile never
splits a member mid-record, which it cannot anyway since each file is
one row). Decompress + record walk + text extraction all happen inside
one Arrow-batched mapInPandas pass; the text-extraction regex is the
same parse_cc hot path the crawl bench measures. Language ID runs
AFTERWARDS as JVM column algebra (textkit.lang_id_multi) — no Python.

The reference has no bulk-archive ingestion at all (its scrapers fetch
live pages one URL at a time — see ga_scraper.py's per-URL requests
loop); this connector is the batch-side complement the 10^10 posture
needs.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textkit
from ..parsers.families import parse_cc

RAW_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, "
    "http_status int, mime string, warc_file string"
)

_GZ_MAGIC = b"\x1f\x8b"


def _decompress(blob: bytes) -> bytes:
    """Transparent multi-member gzip (Common-Crawl member-per-record),
    member by member: a corrupt member (bad CRC / truncated deflate)
    drops ONLY itself — we resync on the next gzip magic and keep
    going, so one damaged record never discards a 1 GB segment."""
    if blob[:2] != _GZ_MAGIC:
        return blob
    out = bytearray()
    pos = 0
    n = len(blob)
    mv = memoryview(blob)  # chunked feed: never copy the whole tail
    CHUNK = 1 << 20
    while pos < n:
        member = bytearray()  # commit to `out` ONLY on clean member end:
        # a corrupt member that already produced partial output must
        # drop whole, or its bytes splice into the next record's body
        try:
            d = zlib.decompressobj(wbits=31)
            fed = pos
            while not d.eof and fed < n:
                piece = mv[fed : fed + CHUNK]
                member += d.decompress(piece)
                fed += len(piece)
            if not d.eof:
                break  # truncated final member — framing parser copes
            member += d.flush()
            out += member
            # unused_data is at most the tail of the LAST fed chunk, so
            # the per-member copy is bounded by CHUNK, not by the file
            pos = fed - len(d.unused_data)
        except zlib.error:
            nxt = blob.find(b"\x1f\x8b\x08", pos + 1)
            if nxt < 0:
                break
            pos = nxt
    return bytes(out)


def iter_warc_records(blob: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (warc_headers, payload_bytes) per well-formed record.

    Malformed framing (bad version line, unparsable Content-Length,
    truncated payload) SKIPS to the next record boundary rather than
    raising — per-record failure isolation."""
    data = _decompress(blob)
    pos = 0
    n = len(data)
    while pos < n:
        # seek the next version line
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = data.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            return
        head = data[start:hdr_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/1."):
            pos = start + 5
            continue
        headers: dict[str, str] = {}
        for line in lines[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        if length < 0 or body_start + length > n:
            pos = body_start
            continue
        yield headers, data[body_start : body_start + length]
        pos = body_start + length


def _parse_http_payload(payload: bytes) -> tuple[int, str, str, bytes]:
    """(status, mime, charset, body) from an application/http response
    payload. charset is the declared one ('' when absent)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return 0, "", "", payload
    head = payload[:sep].decode("utf-8", errors="replace")
    lines = head.split("\r\n")
    status = 0
    parts = lines[0].split()
    if len(parts) >= 2 and parts[0].startswith("HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = 0
    mime, charset = "", ""
    for line in lines[1:]:
        if line.lower().startswith("content-type:"):
            value = line.split(":", 1)[1]
            segs = [s.strip() for s in value.split(";")]
            mime = segs[0]
            for s in segs[1:]:
                if s.lower().startswith("charset="):
                    charset = s.split("=", 1)[1].strip().strip('"').lower()
            break
    return status, mime, charset, payload[sep + 4 :]


def _body_for_extraction(body: bytes, charset: str) -> bytes:
    """Transcode a declared non-UTF-8 body to UTF-8 for text
    extraction (the stored `html` column stays the RAW bytes — the
    byte-identity invariant is on the archive payload, the extraction
    operates on the declared encoding). Unknown/invalid charsets fall
    back to the raw bytes (parse_cc's utf-8-replace decode)."""
    if not charset or charset in ("utf-8", "utf8", "ascii", "us-ascii"):
        return body
    try:
        return body.decode(charset, errors="replace").encode("utf-8")
    except LookupError:
        return body


def _parse_warc_ts(raw: str):
    # WARC/1.0 whole seconds; WARC/1.1 allows fractional seconds
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(raw, fmt).replace(
                tzinfo=timezone.utc
            ).replace(tzinfo=None)
        except ValueError:
            continue
    return None


def warc_blob_to_rows(blob: bytes, warc_file: str = "") -> list[dict]:
    """All response pages in one WARC blob — shared by the Spark reader
    and the committed-oracle generator so both sides parse identically."""
    rows = []
    for headers, payload in iter_warc_records(blob):
        if headers.get("warc-type") != "response":
            continue
        if not headers.get("content-type", "").startswith("application/http"):
            continue
        url = headers.get("warc-target-uri", "")
        if not url:
            continue
        status, mime, charset, body = _parse_http_payload(payload)
        _meta, _children, text = parse_cc(_body_for_extraction(body, charset))
        rows.append(
            {
                "url": url,
                "warc_ts": _parse_warc_ts(headers.get("warc-date", "")),
                "html": body,
                "text": text,
                "http_status": status,
                "mime": mime,
                "warc_file": warc_file,
            }
        )
    return rows


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read `.warc` / `.warc.gz` files under ``path`` into the canonical
    pages schema (plus a `lang` column via JVM-side textkit). One file
    per input row (binaryFile), one Arrow pass per partition."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "warc_ts", "html", "text", "http_status", "mime", "warc_file"]
        for b in batches:
            rows: list[dict] = []
            for path_, content in zip(b["path"], b["content"]):
                rows.extend(warc_blob_to_rows(bytes(content), str(path_)))
            yield pd.DataFrame(rows, columns=cols)

    raw = files.mapInPandas(run, RAW_SCHEMA)
    return raw.withColumn("lang", textkit.lang_id_multi(F.col("text")))


def warc_to_pages(pages: DataFrame) -> DataFrame:
    """Project a read_warc frame onto the CANONICAL pages shape
    (schemas.PAGES + the crawler's days(warc_ts) partition column
    warc_day), so an archive batch appends to the very same
    catalog table the live crawler writes (frontier/crawler.py's pages
    projection) and every downstream query is source-agnostic."""
    return pages.select(
        "url", "warc_ts", "html", "text", "lang",
        F.date_format("warc_ts", "yyyy-MM-dd").alias("warc_day"),
    )


# --------------------------------------------------- writer (tests/bench)

def synth_warc(records: list[dict], member_per_record: bool = True) -> bytes:
    """Deterministic WARC/1.0 bytes for tests: ``records`` carry url /
    ts (ISO-Z string) / html (bytes) / optional status, mime. With
    ``member_per_record`` each record is its own gzip member (the
    Common-Crawl layout); otherwise one plain uncompressed stream."""
    out = bytearray()
    for i, r in enumerate(records):
        body = r["html"]
        status = int(r.get("status", 200))
        mime = r.get("mime", "text/html")
        http = (
            f"HTTP/1.1 {status} OK\r\nContent-Type: {mime}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{i:032x}>\r\n"
            f"WARC-Date: {r['ts']}\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        rec = head + http + b"\r\n\r\n"
        if member_per_record:
            gz = io.BytesIO()
            # mtime pinned for byte-determinism across runs
            with gzip.GzipFile(fileobj=gz, mode="wb", mtime=0) as f:
                f.write(rec)
            out += gz.getvalue()
        else:
            out += rec
    return bytes(out)


def synth_warc_corpus() -> list[tuple[str, bytes]]:
    """Deterministic 3-file WARC corpus for the q56 value gate: 61
    response records with varied markup (incl. one declared-latin-1
    page pinning charset transcode), one non-response record that
    must be skipped, and one gzip member corrupted IN A FIXED POSITION
    (file b, member 3) so the gate also pins the member-resync
    behavior. Shared by the Spark query (q56) and the committed-oracle
    generator (scripts/gen_q56_oracle.py) — both sides parse the exact
    same bytes."""
    import hashlib

    langwords = {
        0: "the and of to a in is that it for",
        1: "der und die das nicht ist ein ich",
        2: "el la de que y en un ser se no",
        3: "le de un etre et a il avoir ne je",
    }

    def page(i: int) -> bytes:
        w = hashlib.md5(f"warc-{i}".encode()).hexdigest()
        words = " ".join(w[j : j + 4] for j in range(0, 24, 4))
        rows = "".join(
            f"<tr><td>cell{i}-{r}</td><td>{r * i}</td></tr>" for r in range(i % 4)
        )
        return (
            f"<html><head><title>Page {i}</title><style>.x{{color:red}}</style>"
            f"</head><body><h1>Heading {i}</h1><p>{langwords[i % 4]} {words}</p>"
            f"<table>{rows}</table><script>var p={i};</script></body></html>"
        ).encode()

    recs = [
        {
            "url": f"http://site-{i % 7}.example.com/page/{i}",
            "ts": f"2024-03-{1 + i % 28:02d}T{i % 24:02d}:00:00Z",
            "html": page(i),
            "status": 200 if i % 9 else 404,
            "mime": "text/html" if i % 11 else "text/plain",
        }
        for i in range(60)
    ]
    # one declared-latin-1 page pins the charset-transcode path
    recs.append(
        {
            "url": "http://site-l1.example.com/latin",
            "ts": "2024-03-15T15:00:00Z",
            "html": "<html><body>caf\xe9 d\xe9j\xe0 vu le der</body></html>".encode(
                "iso-8859-1"
            ),
            "mime": "text/html; charset=ISO-8859-1",
        }
    )
    a = synth_warc(recs[:20])
    b = bytearray(synth_warc(recs[20:40]))
    c = synth_warc(recs[40:], member_per_record=False)
    # append a request record that the reader must skip
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Record-ID: <urn:uuid:req>\r\n"
        b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
        b"WARC-Target-URI: http://site-0.example.com/skip\r\n"
        b"Content-Type: application/http; msgtype=request\r\n"
        b"Content-Length: 18\r\n\r\nGET /skip HTTP/1.1\r\n\r\n"
    )
    c = c + req
    # deterministically corrupt member 3 of file b (record 23 drops)
    import re as _re

    bounds = [m.start() for m in _re.finditer(b"\x1f\x8b\x08", bytes(b))]
    b[bounds[3] + 40] ^= 0xFF
    return [("a.warc.gz", a), ("b.warc.gz", bytes(b)), ("c.warc", c)]


def write_warc(
    pages: DataFrame,
    out_dir: str,
    num_files: int | None = None,
) -> DataFrame:
    """WARC EXPORT sink — the archival complement of read_warc: every
    partition writes ONE `.warc.gz` file (one gzip member per record,
    the Common-Crawl layout read_warc ingests and range-fetchers rely
    on) and emits a manifest row (warc_file, n_records, n_bytes).
    ``pages`` must carry url / warc_ts / html (+ optional http_status,
    mime). The round trip through read_warc is bit-faithful on the
    HTML payload (asserted in tests) — crawl → export → re-ingest is
    lossless, so a WARC archive is a valid cold-storage form of the
    pages table.

    Scale shape: a pure per-partition pass — no shuffle beyond the
    optional sizing repartition; each task streams its rows through the
    gzip framer and writes one object (at 10^5 tasks this is exactly
    how Common Crawl segments are produced). The manifest is
    file-count-sized. ``out_dir`` must be a directory every executor
    can write (local/NFS here; an object-store path in production)."""
    import os as _os

    from pyspark import TaskContext

    cols = ["url", "warc_ts", "html"] + [
        c for c in ("http_status", "mime") if c in pages.columns
    ]
    src = pages.select(*cols)
    if num_files is not None:
        src = src.repartition(num_files)
    _os.makedirs(out_dir, exist_ok=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        recs: list[dict] = []
        for b in batches:
            for row in b.itertuples(index=False):
                d = row._asdict()
                ts = d["warc_ts"]
                recs.append(
                    {
                        "url": d["url"],
                        "ts": pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ"),
                        "html": bytes(d["html"]),
                        "status": int(d.get("http_status") or 200),
                        "mime": d.get("mime") or "text/html",
                    }
                )
        if not recs:
            yield pd.DataFrame(
                {"warc_file": [], "n_records": [], "n_bytes": []}
            ).astype({"warc_file": str, "n_records": "int64", "n_bytes": "int64"})
            return
        blob = synth_warc(recs, member_per_record=True)
        path = _os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        with open(path, "wb") as f:
            f.write(blob)
        yield pd.DataFrame(
            {
                "warc_file": [path],
                "n_records": [len(recs)],
                "n_bytes": [len(blob)],
            }
        )

    return src.mapInPandas(
        run, "warc_file string, n_records long, n_bytes long"
    )
