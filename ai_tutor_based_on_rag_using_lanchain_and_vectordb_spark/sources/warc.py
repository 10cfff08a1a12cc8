"""WARC / WET web-archive source + sink (ISO 28500, the Common Crawl
container) — the canonical input format of a 100 TB web-corpus
training-data pipeline.

The reference ingests documents only through per-request uploads
(backend/main.py:305-427); bulk corpora arrive instead as WARC
(captured HTTP traffic) or WET (pre-extracted text) segment files,
~1 GiB each, thousands per crawl. This module gives the engine that
ingestion path Spark-first:

- ``parse_warc`` — a streaming, stdlib-only parser of WARC/1.0 and
  WARC/1.1 records, plain or gzip (Common Crawl's per-record gzip
  members read transparently as a concatenated-member stream). Bounded
  memory: one record at a time, bodies framed by ``Content-Length``.
- ``write_warc`` — a spec-conformant writer (used by the distributed
  re-sharding sink ``write_warc_shards`` and by tests to produce
  ground-truth fixtures). Fully deterministic: record ids and dates
  are caller-supplied, never uuid()/now() (a retried task must emit
  byte-identical output).
- ``WarcDataSource`` (format name ``"warc"``) — a Spark 4 Python
  DataSource planning ONE InputPartition PER SEGMENT FILE. That is
  exactly the parallelism unit of a real crawl corpus (gzip members
  are not block-splittable; Common Crawl ships ~1 GiB segments for
  precisely this reason), so a 100 TB crawl = ~100k files = ~100k
  tasks — no driver-side materialization, no whole-file byte blobs in
  rows. ``pushFilters`` prunes on ``record_type`` at parse time:
  a WET job asking for ``conversion`` records skips request/metadata
  record bodies with a seek-past instead of decoding them.
- ``wet_documents`` — the WET → canonical document-schema adapter
  (doc_id parsed from the target URI) that lands web text on the same
  schema the rest of the pipeline (splitter → embed → index) consumes.

HTTP ``response`` records additionally split the stored HTTP message:
status line parsed to ``http_status``, entity headers to
``payload_type``, and the entity body (the actual HTML) to ``payload``
— so downstream HTML→text extraction (loaders._html_to_text) starts
from the body, not the wire bytes.
"""

from __future__ import annotations

import gzip
import io
import os
from typing import BinaryIO, Iterable, Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    In,
    InputPartition,
)
from pyspark.sql.types import StructType

CRLF = b"\r\n"

#: Output schema of the ``warc`` DataSource. ``text`` is populated for
#: text-typed payloads (WET conversion records, text/* responses);
#: binary payloads keep ``payload`` and leave ``text`` null.
SCHEMA = (
    "warc_file string, record_type string, record_id string, "
    "target_uri string, warc_date string, content_type string, "
    "content_language string, http_status int, payload_type string, "
    "payload binary, text string"
)


class WarcFormatError(ValueError):
    """Raised in strict mode for malformed/truncated WARC input."""


# ---------------------------------------------------------------------------
# writer


def write_warc_record(
    out: BinaryIO,
    record_type: str,
    record_id: str,
    date: str,
    body: bytes,
    *,
    target_uri: str | None = None,
    content_type: str = "application/octet-stream",
    extra_headers: Iterable[Tuple[str, str]] = (),
    version: str = "1.1",
) -> None:
    """Emit one WARC record: version line, named fields, CRLF, body,
    two CRLFs (the record boundary the spec mandates)."""
    h = [b"WARC/" + version.encode("ascii")]
    h.append(b"WARC-Type: " + record_type.encode("ascii"))
    h.append(b"WARC-Record-ID: " + record_id.encode("ascii"))
    h.append(b"WARC-Date: " + date.encode("ascii"))
    if target_uri is not None:
        # WARC 1.1 field values are UTF-8 (ascii-only in 1.0; real
        # crawls carry IRIs, so encode the superset)
        h.append(b"WARC-Target-URI: " + target_uri.encode("utf-8"))
    for k, v in extra_headers:
        h.append(k.encode("ascii") + b": " + v.encode("utf-8"))
    h.append(b"Content-Type: " + content_type.encode("ascii"))
    h.append(b"Content-Length: " + str(len(body)).encode("ascii"))
    out.write(CRLF.join(h) + CRLF + CRLF + body + CRLF + CRLF)


def write_warc(
    records: Iterable[dict],
    out: BinaryIO,
    *,
    gzip_per_record: bool = False,
) -> int:
    """Write records (dicts with the write_warc_record keyword surface)
    to ``out``. ``gzip_per_record=True`` wraps EACH record in its own
    gzip member (the Common Crawl layout: members concatenate into a
    valid .warc.gz, and a reader can resync on member boundaries).
    Returns the record count."""
    n = 0
    for rec in records:
        rec = dict(rec)
        body = rec.pop("body")
        if gzip_per_record:
            buf = io.BytesIO()
            # mtime pinned: gzip headers embed a timestamp; a retried
            # task must produce byte-identical shards.
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                write_warc_record(gz, body=body, **rec)
            out.write(buf.getvalue())
        else:
            write_warc_record(out, body=body, **rec)
        n += 1
    return n


# ---------------------------------------------------------------------------
# parser


def _open_stream(path: str) -> BinaryIO:
    raw = open(path, "rb")
    head = raw.read(2)
    raw.seek(0)
    if head == b"\x1f\x8b":
        # GzipFile iterates concatenated members transparently — one
        # logical stream over Common Crawl's per-record members.
        return io.BufferedReader(gzip.GzipFile(fileobj=raw))  # type: ignore[arg-type]
    return io.BufferedReader(raw)


def _read_headers(fh: BinaryIO, strict: bool) -> dict[str, str] | None:
    """Named-field block: ``Key: value`` lines up to a blank line, with
    RFC-style continuation lines folded into the previous value."""
    headers: dict[str, str] = {}
    last_key: str | None = None
    while True:
        line = fh.readline()
        if not line:
            if strict:
                raise WarcFormatError("truncated WARC header block")
            return None
        line = line.rstrip(b"\r\n")
        if not line:
            return headers
        if line[:1] in (b" ", b"\t") and last_key is not None:
            headers[last_key] += " " + line.strip().decode("utf-8", "replace")
            continue
        key, sep, val = line.partition(b":")
        if not sep:
            if strict:
                raise WarcFormatError(f"malformed WARC header line: {line!r}")
            continue
        last_key = key.decode("ascii", "replace").strip().lower()
        headers[last_key] = val.strip().decode("utf-8", "replace")


def parse_warc(
    fh: BinaryIO, *, strict: bool = False, want_body: bool = True
) -> Iterator[dict]:
    """Yield records as dicts: ``headers`` (lower-cased field names) and
    ``body`` bytes (``None`` when ``want_body=False`` — the seek-past
    path filter pushdown uses). Lax mode stops at truncation; strict
    raises WarcFormatError."""
    while True:
        # resync: skip record-boundary blank lines until a version line
        line = fh.readline()
        if not line:
            return
        stripped = line.strip()
        if not stripped:
            continue
        if not stripped.startswith(b"WARC/"):
            if strict:
                raise WarcFormatError(f"expected WARC version line, got {line!r}")
            continue
        headers = _read_headers(fh, strict)
        if headers is None:
            return
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            if strict:
                raise WarcFormatError("missing/invalid Content-Length")
            return
        if want_body:
            body = fh.read(length)
        else:
            # still must consume the framed body to reach the next record
            remaining = length
            while remaining > 0:
                chunk = fh.read(min(remaining, 1 << 20))
                if not chunk:
                    break
                remaining -= len(chunk)
            body = None
        if want_body and len(body) < length:
            if strict:
                raise WarcFormatError(
                    f"truncated body: wanted {length}, got {len(body)}"
                )
            return
        yield {"version": stripped.decode("ascii"), "headers": headers, "body": body}


def split_http_response(body: bytes) -> tuple[int | None, str | None, bytes]:
    """Split a stored HTTP response message into (status, entity
    content-type, entity body). Non-HTTP bodies come back unchanged
    with (None, None, body)."""
    if not body.startswith(b"HTTP/"):
        return None, None, body
    head, sep, entity = body.partition(b"\r\n\r\n")
    if not sep:
        head, sep, entity = body.partition(b"\n\n")
        if not sep:
            return None, None, body
    lines = head.split(b"\n")
    status_parts = lines[0].split()
    try:
        status = int(status_parts[1])
    except (IndexError, ValueError):
        return None, None, body
    ctype = None
    for ln in lines[1:]:
        k, s, v = ln.partition(b":")
        if s and k.strip().lower() == b"content-type":
            ctype = v.strip().decode("ascii", "replace")
            break
    return status, ctype, entity


_TEXT_TYPES = ("text/", "application/json", "application/xhtml")


def _record_to_row(path: str, rec: dict) -> Tuple:
    h = rec["headers"]
    rtype = h.get("warc-type", "")
    ctype = h.get("content-type", "")
    body = rec["body"]
    status: int | None = None
    ptype: str | None = None
    payload = body
    if rtype in ("response", "request") and ctype.startswith("application/http"):
        status, ptype, payload = split_http_response(body)
    else:
        ptype = ctype or None
    text = None
    if ptype and any(ptype.startswith(t) for t in _TEXT_TYPES):
        text = payload.decode("utf-8", "replace")
    return (
        path,
        rtype,
        h.get("warc-record-id", ""),
        h.get("warc-target-uri"),
        h.get("warc-date"),
        ctype or None,
        h.get("warc-identified-content-language"),
        status,
        ptype,
        payload,
        text,
    )


# ---------------------------------------------------------------------------
# Spark DataSource


def _list_segments(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    out = []
    for base, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith((".warc", ".warc.gz", ".wet", ".wet.gz")):
                out.append(os.path.join(base, f))
    return sorted(out)


class _SegmentPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WarcReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("warc: option 'path' is required")
        self.strict = options.get("strict", "false").lower() == "true"
        self.types: set[str] | None = None  # None = all record types

    def pushFilters(self, filters):
        """Consume record_type equality/IN filters — matching records
        decode, everything else is seeked past by Content-Length
        (framing read, no row build, no HTTP split, no text decode).
        Multiple consumed predicates intersect."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("record_type",):
                got = {f.value}
            elif isinstance(f, In) and f.attribute == ("record_type",):
                got = set(f.value)
            else:
                yield f
                continue
            self.types = got if self.types is None else (self.types & got)

    def partitions(self):
        return [_SegmentPartition(p) for p in _list_segments(self.root)]

    def read(self, partition: _SegmentPartition):
        path = partition.path
        with _open_stream(path) as fh:
            for rec in parse_warc(fh, strict=self.strict):
                rtype = rec["headers"].get("warc-type", "")
                if self.types is not None and rtype not in self.types:
                    continue
                yield _record_to_row(path, rec)


class WarcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: StructType) -> WarcReader:
        return WarcReader(self.options)


def register(spark) -> None:
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WarcDataSource)


# ---------------------------------------------------------------------------
# distributed sink + canonical-schema adapter


def write_warc_shards(
    df,
    out_dir: str,
    n_shards: int,
    shard_key: str,
    *,
    gzip_per_record: bool = True,
    url_col: str | None = None,
) -> None:
    """Distributed corpus re-sharder: hash-repartition on ``shard_key``
    into ``n_shards`` WET segment files, one per partition, written BY
    THE EXECUTORS (mapInPandas — no driver collect; at 100 TB each task
    streams its shard straight to storage). Input columns: doc_id,
    text, lang. Output is deterministic per shard: rows are sorted by
    doc_id inside the partition and gzip mtime is pinned, so task
    retries produce byte-identical files.

    ``url_col`` names a column carrying each document's own
    WARC-Target-URI (crawl provenance); without it a synthetic
    ``corpus.example`` URI encodes the doc_id. Either way the URI path
    ends in ``/doc/{doc_id}`` so :func:`wet_documents` recovers ids."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    os.makedirs(out_dir, exist_ok=True)

    def _write(batches):
        from pyspark import TaskContext

        rows = []
        for pdf in batches:
            rows.extend(pdf.itertuples(index=False))
        if not rows:
            return
        rows.sort(key=lambda r: r.doc_id)
        # partition id is stable across task retries — same shard, same
        # file name, same (sorted, mtime-pinned) bytes
        shard = TaskContext.get().partitionId()
        ext = ".wet.gz" if gzip_per_record else ".wet"
        path = os.path.join(out_dir, f"part-{shard:05d}{ext}")
        recs = (
            {
                "record_type": "conversion",
                "record_id": f"<urn:doc:{r.doc_id}>",
                "date": "2026-01-01T00:00:00Z",
                "target_uri": (
                    getattr(r, "url")
                    if url_col is not None
                    else f"https://corpus.example/doc/{r.doc_id}"
                ),
                "content_type": "text/plain",
                # a NULL lang column must not crash the executor task:
                # omit the (optional per WARC/1.1) language header then
                "extra_headers": (
                    (("WARC-Identified-Content-Language", r.lang),)
                    if isinstance(r.lang, str)
                    else ()
                ),
                "body": r.text.encode("utf-8"),
            }
            for r in rows
        )
        with open(path, "wb") as out:
            write_warc(recs, out, gzip_per_record=gzip_per_record)
        yield pd.DataFrame({"path": [path], "n": [len(rows)]})

    from pyspark.sql import functions as F

    cols = ["doc_id", "text", "lang"]
    if url_col is not None:
        df = df.withColumn("url", F.col(url_col).cast("string"))
        cols.append("url")
    (
        df.select(*cols)
        .repartition(n_shards, F.col("doc_id"))
        .mapInPandas(_write, "path string, n long")
        .collect()  # bounded: n_shards rows (one manifest row per file)
    )


def wet_documents(spark, path: str, with_uri: bool = False):
    """WET conversion records → the canonical document frame
    (the documents table's shape): doc_id parsed from the target
    URI, language from the identified-content-language field the
    re-sharder writes. The record_type filter pushes into the scan and
    seeks past non-conversion records. ``with_uri`` appends the raw
    WARC-Target-URI as ``url`` (crawl provenance for domain curation)."""
    from pyspark.sql import functions as F

    register(spark)
    raw = spark.read.format("warc").option("path", path).load()
    cols = [
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content_language").alias("lang"),
        F.col("text"),
    ]
    if with_uri:
        cols.append(F.col("target_uri").alias("url"))
    return raw.where(F.col("record_type") == "conversion").select(*cols)
