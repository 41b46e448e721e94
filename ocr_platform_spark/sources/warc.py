"""WARC segment source/sink — Common-Crawl-shaped ingestion (SURVEY.md S1).

The reference ingests one uploaded file per HTTP request
(``ocr_backend/app/api/document_routes.py:202-279``); the web-scale
equivalent is reading crawl archives: directories of ``*.warc.gz`` segment
files, each a concatenation of per-record gzip members (the actual Common
Crawl layout — members are individually compressed so a record can be
fetched by offset).

Spark-first shape:

    spark.read.format("binaryFile").load(dir)      # one row per segment
      -> mapInPandas(record splitter)              # N document rows per file
      -> documents(url, warc_ts, html, text, lang)

Each segment is one task (segments are written at ~100 MB-1 GB at crawl
scale, so file==partition gives uniform tasks); the splitter is a pure
function of the segment bytes — deterministic, no shared state. Filters on
``path``/``length`` push into the binaryFile scan (partition-file pruning).
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator
from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_CRLF = b"\r\n"
_WARC_DATE = "%Y-%m-%dT%H:%M:%SZ"


# --- record building (sink side; fixtures + export) -------------------------


def build_warc_record(
    url: str, ts: datetime, payload: bytes, record_type: str = "response"
) -> bytes:
    """One WARC/1.0 record (uncompressed)."""
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {record_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime(_WARC_DATE)}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode("utf-8")
    return headers + payload + _CRLF + _CRLF


def build_warc_segment(
    rows: list[tuple[str, datetime, bytes]], compress: bool = True
) -> bytes:
    """A segment: concatenated records, each its own gzip member when
    ``compress`` (the Common Crawl layout)."""
    out = io.BytesIO()
    for url, ts, payload in rows:
        rec = build_warc_record(url, ts, payload)
        if compress:
            out.write(gzip.compress(rec, mtime=0))  # mtime=0: byte-stable
        else:
            out.write(rec)
    return out.getvalue()


def write_warc_segments(
    docs: list[dict], out_dir: str, docs_per_segment: int = 100, compress: bool = True
) -> list[str]:
    """Materialize docs (url/warc_ts/html dicts) as segment files."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    ext = "warc.gz" if compress else "warc"
    for seg_no, lo in enumerate(range(0, len(docs), docs_per_segment)):
        chunk = docs[lo : lo + docs_per_segment]
        seg = build_warc_segment(
            [(d["url"], d["warc_ts"], d["html"]) for d in chunk], compress
        )
        path = os.path.join(out_dir, f"segment-{seg_no:05d}.{ext}")
        with open(path, "wb") as f:
            f.write(seg)
        paths.append(path)
    return paths


# --- record parsing (source side) -------------------------------------------


def split_warc_records(segment: bytes) -> Iterator[tuple[str, datetime, bytes]]:
    """Parse a segment (gzip-members or plain) into (url, ts, payload).

    Pure function of the bytes; malformed trailing garbage terminates the
    iteration rather than raising (error-as-data discipline: a truncated
    segment yields its readable prefix)."""
    if segment[:2] == b"\x1f\x8b":
        # Decompress member-by-member (zlib.decompressobj per gzip member) so
        # a truncated/corrupt trailing member discards ONLY itself: every
        # member decoded before the failure contributes its records. A single
        # gz.read() over the whole BytesIO would raise before assigning and
        # lose the intact prefix.
        import zlib

        chunks: list[bytes] = []
        buf = segment
        while buf[:2] == b"\x1f\x8b":
            d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
            try:
                chunk = d.decompress(buf)
                chunks.append(chunk)
                if not d.eof:  # member truncated mid-stream: keep its
                    break      # partial bytes; the record parser stops clean
                buf = d.unused_data
            except zlib.error:
                break  # corrupt member: keep the prefix decoded so far
        data = b"".join(chunks)
        if not data:
            return
    else:
        data = segment
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return
        header_block = data[pos:head_end].decode("utf-8", errors="replace")
        if not header_block.startswith("WARC/"):
            return
        headers = {}
        for line in header_block.split("\r\n")[1:]:
            if ": " in line:
                k, v = line.split(": ", 1)
                headers[k.lower()] = v
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = head_end + 4
        if body_start + clen > n:
            return  # truncated record — keep the readable prefix only
        payload = data[body_start : body_start + clen]
        url = headers.get("warc-target-uri", "")
        ts_raw = headers.get("warc-date", "1970-01-01T00:00:00Z")
        try:
            ts = datetime.strptime(ts_raw, _WARC_DATE)
        except ValueError:
            ts = datetime(1970, 1, 1)
        yield url, ts, payload
        pos = body_start + clen + 4  # skip record + CRLF CRLF


_DOCS_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC directory → the engine's documents table shape.

    ``binaryFile`` scan (one row/segment, content + path + length) →
    Arrow-batched splitter. Predicate pushdown: pathGlobFilter and
    modifiedAfter/length filters act before any bytes move."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("content")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_platform_spark.sources.warc import split_warc_records  # executor import

        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for url, ts, payload in split_warc_records(bytes(content)):
                    rows.append((url, ts, payload, None, None))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return files.mapInPandas(kernel, _DOCS_DDL)
