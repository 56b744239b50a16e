"""WARC source: read Common-Crawl-style archives into the pages schema.

The north rule's input is "Iceberg tables of Common-Crawl-style web
pages" (BASELINE.json input_hint); the upstream format those tables are
loaded FROM is WARC (ISO 28500) — Common Crawl publishes each crawl as
~10^5 independently-gzipped ``.warc.gz`` segment files of ~1 GB. This
module is the ingest edge: WARC files → the fixed PAGES_SCHEMA that
every downstream operator (S1 signatures onward) consumes.

Spark shape
-----------
``spark.read.format("binaryFile")`` yields ONE ROW PER FILE
(path, modificationTime, length, content) — no schema inference, no
line-splitting heuristics on binary data. Record extraction runs in a
single ``mapInPandas`` pass: per file, a header-scan loop bounded by
``Content-Length`` (records are whole pages, so the Python loop is
per-RECORD — thousands of iterations per ~1 GB file — never per byte;
header parsing is stdlib bytes.find/split). Parallelism is per-file,
which at Common-Crawl scale means ~10^5-way — far above any cluster's
task slots, so the stage saturates without further splitting. Each
task holds one decompressed file in memory (~1 GB for CC segments);
that bounds executor memory per task exactly like the documented
pairs-stage scratch sizing.

Format notes (kept deliberately minimal, stdlib-only):
- WARC record = header block (CRLF lines, terminated by a blank line)
  + ``Content-Length`` body bytes + CRLF CRLF separator.
- Only ``WARC-Type: response`` records carry pages; warcinfo /
  request / metadata records are skipped (Common Crawl interleaves
  all four).
- A response body is an HTTP message; the payload is everything after
  the first blank line when the block starts with ``HTTP/``. Raw-html
  blocks (no HTTP wrapper) pass through unchanged.
- ``.gz`` files decompress with ``gzip.decompress``, which walks
  concatenated members — Common Crawl's member-per-record gzip layout
  is exactly that.

``text`` is extracted from the html payload with the shared
``html_to_text`` codegen expression AFTER the parse (same extraction
rules as the parquet path, so the input_hint's byte-identical-text
invariant holds whichever source a corpus arrives through), and
``warc_ts`` parses from ``WARC-Date`` (ISO-8601 Zulu).

``warc_bytes`` / ``write_warc`` serialize the same subset — the
deterministic fixture writer for tests and datagen (no external data
in-sandbox).
"""

from __future__ import annotations

import gzip
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedupe_trees_spark.sources.pages import PAGES_SCHEMA

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"

# parse output: text/lang derived AFTER parsing (codegen), so the UDF
# emits only what the bytes carry
_RAW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("source_order", T.IntegerType(), True),
    ]
)


def warc_bytes(records: list[dict]) -> bytes:
    """Serialize records (url, warc_ts: datetime, html: bytes, optional
    http_wrap: bool, warc_type: str) as a WARC/1.0 byte stream."""
    out = bytearray()
    for rec in records:
        body = rec.get("html", b"") or b""
        if rec.get("http_wrap"):
            body = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
                b"Content-Length: " + str(len(body)).encode() + _HDR_END + body
            )
        ts = rec.get("warc_ts")
        # NULL timestamps stay NULL through a write/read roundtrip: the
        # WARC-Date header is simply omitted (read side maps a missing
        # header back to NULL warc_ts) instead of fabricating a date.
        date_hdr = (
            b"WARC-Date: "
            + ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ").encode()
            + _CRLF
            if isinstance(ts, datetime)
            else b""
        )
        wtype = rec.get("warc_type", "response")
        hdr = (
            b"WARC/1.0\r\n"
            + b"WARC-Type: " + wtype.encode() + _CRLF
            + b"WARC-Target-URI: " + rec["url"].encode() + _CRLF
            + date_hdr
            + b"Content-Length: " + str(len(body)).encode() + _CRLF
            + _CRLF
        )
        out += hdr + body + _HDR_END
    return bytes(out)


def write_warc(records: list[dict], path: str, compress: bool | None = None) -> None:
    """Write a fixture WARC file; gzip iff ``path`` ends ``.gz`` (or
    ``compress`` forces it)."""
    data = warc_bytes(records)
    gz = path.endswith(".gz") if compress is None else compress
    with open(path, "wb") as f:
        f.write(gzip.compress(data, mtime=0) if gz else data)


def _parse_warc(data: bytes, source: str) -> list[tuple]:
    """One file's bytes → [(url, warc_date, html, source, order)].

    Bounded header-scan: each iteration consumes exactly one record via
    its Content-Length — malformed trailing bytes stop the scan rather
    than looping."""
    rows: list[tuple] = []
    pos, order = 0, 0
    n = len(data)
    while pos < n:
        # skip inter-record padding CRLFs
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            break  # not a record boundary — stop, don't guess
        hdr_end = data.find(_HDR_END, pos)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "latin-1"
            )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        body_start = hdr_end + len(_HDR_END)
        body = data[body_start : body_start + length]
        pos = body_start + length
        if headers.get("warc-type", "").lower() == "response":
            url = headers.get("warc-target-uri")
            if url:
                if body.startswith(b"HTTP/"):
                    http_end = body.find(_HDR_END)
                    body = body[http_end + len(_HDR_END) :] if http_end >= 0 else b""
                rows.append((url, headers.get("warc-date"), body, source, order))
                order += 1
    return rows


def read_pages_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC file(s)/directory/glob → DataFrame in PAGES_SCHEMA column order.

    text = html_to_text(payload) (shared codegen extraction), lang
    left NULL (the corpus-level lang-id operator fills it downstream),
    source = file name, source_order = record index within its file.
    """
    raw = spark.read.format("binaryFile").load(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if fpath.endswith(".gz"):
                    data = gzip.decompress(data)  # walks gzip members
                fname = fpath.rsplit("/", 1)[-1]
                out.extend(_parse_warc(data, fname))
            yield pd.DataFrame(
                out, columns=[f.name for f in _RAW_SCHEMA.fields]
            )

    parsed = raw.select("path", "content").mapInPandas(parse, _RAW_SCHEMA)
    from dedupe_trees_spark.functions.text import html_to_text

    return parsed.select(
        "url",
        F.to_timestamp("warc_date", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
        "html",
        html_to_text(F.decode("html", "UTF-8")).alias("text"),
        F.lit(None).cast("string").alias("lang"),
        "source",
        F.col("source_order").cast("int"),
    ).select(*[f.name for f in PAGES_SCHEMA])


_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def write_pages_warc(
    df: DataFrame,
    out_dir: str,
    files: int | None = None,
    http_wrap: bool = True,
    compress: bool = True,
) -> DataFrame:
    """Distributed WARC export sink: pages rows → ``part-*.warc[.gz]``.

    The inverse of :func:`read_pages_warc` — publishes a pages table
    back into the archive format crawl infrastructure exchanges, one
    file per partition, serialized executor-side via :func:`warc_bytes`
    (no driver collect, no corpus shuffle beyond the optional
    ``repartition``). Returns the manifest DataFrame
    (file, n_records, n_bytes); the caller materializes it as the
    write action (``.collect()`` is |files| rows).

    Rows need (url, warc_ts, html); ``html`` NULL falls back to the
    UTF-8 ``text`` bytes so text-only corpora export losslessly.
    ``files`` repartitions by xxhash64(url) first — deterministic
    content per file at any parallelism (hash partitioning does not
    depend on input order), which is what makes the roundtrip contract
    query comparable across runs.

    Cluster note: part files are written with plain ``open`` into
    ``out_dir``, which must be a filesystem every executor can reach
    (node-shared mount in-sandbox; on HDFS/S3A deployments route the
    bytes through the Hadoop FileSystem API like io.replace_dir — the
    record serialization is the same either way).
    """
    import os

    cols = df.select(
        "url",
        F.col("warc_ts"),
        F.coalesce(
            F.col("html") if "html" in df.columns else F.lit(None).cast("binary"),
            F.encode(F.col("text"), "UTF-8") if "text" in df.columns else F.lit(None).cast("binary"),
        ).alias("_body"),
    )
    if files:
        cols = cols.repartition(files, F.xxhash64("url"))
    # overwrite semantics (parity with the parquet/jsonl sinks'
    # mode('overwrite')): clear stale part files NOW, driver-side, so a
    # re-run with fewer shards never leaves old part-*.warc* mixed into
    # the new export — a glob read over such a dir would yield
    # duplicated/stale records. Eager by design; callers materialize
    # the returned manifest immediately as the write action.
    os.makedirs(out_dir, exist_ok=True)
    import glob as _glob

    for stale in _glob.glob(os.path.join(out_dir, "part-*.warc*")):
        os.remove(stale)
    ext = ".warc.gz" if compress else ".warc"

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        recs: list[dict] = []
        for pdf in batches:
            for url, ts, body in zip(pdf["url"], pdf["warc_ts"], pdf["_body"]):
                recs.append(
                    {
                        "url": url,
                        "warc_ts": ts.to_pydatetime().replace(tzinfo=timezone.utc)
                        if ts is not None and not pd.isna(ts)
                        else None,
                        "html": bytes(body) if body is not None else b"",
                        "http_wrap": http_wrap,
                    }
                )
        if not recs:
            yield pd.DataFrame(columns=["file", "n_records", "n_bytes"])
            return
        path = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        data = warc_bytes(recs)
        with open(path, "wb") as f:
            f.write(gzip.compress(data, mtime=0) if compress else data)
        yield pd.DataFrame(
            [{"file": path, "n_records": len(recs), "n_bytes": len(data)}]
        )

    return cols.mapInPandas(dump, _MANIFEST_SCHEMA)
