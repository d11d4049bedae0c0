"""WARC (Web ARChive) source + sink, from scratch on the stdlib
(SURVEY.md §2B "Sources" — the web-archive ingestion format of every
large-scale crawl corpus, Common Crawl above all; reference parity:
the reference's pipeline STARTS with HTTP fetches of filings
(`ETFQuarterlyHoldingsExtractor.py:54-66`), and a WARC file is exactly
the at-rest capture of such fetches, so reading WARC is reading the
reference's input stage from archive instead of from the network).

Format (ISO 28500 / the public WARC 1.1 spec): a WARC file is a
sequence of records, each
``WARC/1.1\\r\\n`` + header lines + ``\\r\\n`` + Content-Length payload
bytes + ``\\r\\n\\r\\n``. The ``.warc.gz`` layout compresses EACH record
as its own gzip member (the Common Crawl convention — members are the
seek/split unit) and a conforming reader must handle multi-member
streams; this one does, via a ``zlib.decompressobj`` loop over
``unused_data``.

Scale posture: files are read with Spark's ``binaryFile`` source and
parsed per-file inside ``mapInPandas`` — per-FILE parallelism, which
is exactly how WARC corpora are laid out to be consumed (Common Crawl
ships ~1 GB files by the tens of thousands; one file is the natural
work unit because gzip members are not splittable without an external
index). Malformed bytes NEVER raise: every defect becomes an error
row carrying the file path and record ordinal (reference R22 — errors
are data). The record walk is incremental and the reader emits
fixed-size chunks of parsed rows, so PAYLOAD memory is bounded by the
chunk; the compressed file bytes themselves stay resident for the
task — that is binaryFile's unit of work, and the reason WARC corpora
cap file sizes (~1 GB).

The sink mirrors the source: ``write_warc`` partitions the frame and
each task writes one ``part-NNNNN.warc.gz`` with per-record members
and a leading ``warcinfo`` record. Local/NFS paths write directly;
object stores would swap the ``open()`` for a Hadoop output stream —
the record serialization (the format-bearing part) is identical.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRLF = b"\r\n"
#: the WARC-Date every written record carries (output is deterministic)
_WARC_DATE = "2024-01-01T00:00:00Z"

#: Schema of the parsed record stream (one row per WARC record, plus
#: one error row per unparseable region).
WARC_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("record_ix", LongType()),
        StructField("warc_type", StringType()),
        StructField("record_id", StringType()),
        StructField("warc_date", StringType()),
        StructField("target_uri", StringType()),
        StructField("content_type", StringType()),
        StructField("http_status", IntegerType()),
        StructField("http_content_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("payload_len", LongType()),
        StructField("error", StringType()),
    ]
)


# ---------------------------------------------------------------------------
# record serialization (shared by the sink and by tests' hand-built
# fixtures)
# ---------------------------------------------------------------------------


def build_record(
    warc_type: str,
    payload: bytes,
    *,
    record_id: str,
    target_uri: str | None = None,
    content_type: str = "application/octet-stream",
) -> bytes:
    """Serialize ONE spec-shaped WARC/1.1 record (uncompressed), dated
    ``_WARC_DATE``."""
    lines = [
        b"WARC/1.1",
        f"WARC-Type: {warc_type}".encode(),
        f"WARC-Record-ID: <urn:uuid:{record_id}>".encode(),
        f"WARC-Date: {_WARC_DATE}".encode(),
    ]
    if target_uri is not None:
        lines.append(f"WARC-Target-URI: {target_uri}".encode())
    lines.append(f"Content-Type: {content_type}".encode())
    lines.append(f"Content-Length: {len(payload)}".encode())
    return _CRLF.join(lines) + _CRLF + _CRLF + payload + _CRLF + _CRLF


def build_http_response_record(
    url: str,
    html: bytes,
    *,
    record_id: str,
) -> bytes:
    """A ``response`` record whose payload is a captured ``200 OK``
    HTML response — the record type crawl pipelines actually
    consume."""
    http = (
        b"HTTP/1.1 200 OK"
        + _CRLF
        + b"Content-Type: text/html; charset=utf-8"
        + _CRLF
        + f"Content-Length: {len(html)}".encode()
        + _CRLF
        + _CRLF
        + html
    )
    return build_record(
        "response",
        http,
        record_id=record_id,
        target_uri=url,
        content_type="application/http;msgtype=response",
    )


def gzip_member(record: bytes) -> bytes:
    """Compress one record as one gzip member (wbits 16+15 → gzip
    wrapper, mtime 0 → byte-deterministic output)."""
    co = zlib.compressobj(9, zlib.DEFLATED, 16 + 15)
    return co.compress(record) + co.flush()


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def _split_gzip_members(data: bytes) -> Iterator[tuple[bytes | None, str | None]]:
    """Yield (decompressed_member, error) pairs; an error ends the walk
    (byte offsets past a corrupt member are unrecoverable)."""
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(16 + 15)
        try:
            out = d.decompress(data[pos:])
        except zlib.error as exc:
            yield None, f"bad_gzip_member: {exc}"
            return
        if not d.eof:
            yield None, "truncated_gzip_member"
            return
        yield out, None
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # defensive: no forward progress
            yield None, "empty_gzip_member"
            return
        pos += consumed


def _parse_records(stream: bytes) -> Iterator[tuple[dict, str | None]]:
    """Walk an UNCOMPRESSED record stream; yield (fields, error)."""
    pos = 0
    n = len(stream)
    while pos < n:
        # skip inter-record padding some writers emit
        while pos < n and stream[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        if not stream[pos : pos + 5] == b"WARC/":
            yield {}, "missing_warc_version_line"
            return
        head_end = stream.find(_CRLF + _CRLF, pos)
        if head_end == -1:
            yield {}, "unterminated_header_block"
            return
        header_lines = stream[pos:head_end].split(_CRLF)
        fields: dict[str, str] = {}

        def _hdr(b: bytes) -> str:
            # ISO 28500: header values are UTF-8; fall back to the
            # lossless latin-1 byte map for non-conformant bytes so
            # the never-raise contract holds
            try:
                return b.decode("utf-8")
            except UnicodeDecodeError:
                return b.decode("latin-1")

        for line in header_lines[1:]:
            k, _, v = line.partition(b":")
            if not _:
                yield {}, f"malformed_header_line: {line[:40]!r}"
                return
            fields[_hdr(k.strip()).lower()] = _hdr(v.strip())
        try:
            clen = int(fields["content-length"])
            if clen < 0:
                raise ValueError
        except (KeyError, ValueError):
            yield fields, "bad_content_length"
            return
        body_start = head_end + 4
        if body_start + clen > n:
            yield fields, "payload_exceeds_stream"
            return
        payload = stream[body_start : body_start + clen]
        yield {**fields, "__payload": payload}, None
        pos = body_start + clen


def _parse_http_payload(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from a captured HTTP response;
    (None, None, payload) when it isn't one."""
    sep = payload.find(_CRLF + _CRLF)
    if sep == -1 or not payload.startswith(b"HTTP/"):
        return None, None, payload
    head = payload[:sep].split(_CRLF)
    parts = head[0].split(b" ")
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    for line in head[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            try:
                ctype = v.strip().decode("utf-8")
            except UnicodeDecodeError:
                ctype = v.strip().decode("latin-1")
    return status, ctype, payload[sep + 4 :]


def parse_warc_bytes(path: str, data: bytes) -> Iterator[dict]:
    """All records of one WARC file (gzip multi-member or plain) as
    WARC_SCHEMA dicts; defects become error rows, never exceptions."""
    ix = 0

    def _row(**kw):
        base = {f.name: None for f in WARC_SCHEMA.fields}
        base.update(path=path, record_ix=ix, **kw)
        return base

    if data[:2] == b"\x1f\x8b":
        stream_iter = _split_gzip_members(data)
    else:
        stream_iter = iter([(data, None)])

    for member, gz_err in stream_iter:
        if gz_err is not None:
            yield _row(error=gz_err)
            return
        for fields, err in _parse_records(member):
            if err is not None:
                yield _row(
                    warc_type=fields.get("warc-type"),
                    record_id=fields.get("warc-record-id"),
                    error=err,
                )
                ix += 1
                # a framing error poisons the rest of THIS member only
                break
            payload = fields.pop("__payload")
            status, http_ctype, body = _parse_http_payload(payload)
            yield _row(
                warc_type=fields.get("warc-type"),
                record_id=fields.get("warc-record-id"),
                warc_date=fields.get("warc-date"),
                target_uri=fields.get("warc-target-uri"),
                content_type=fields.get("content-type"),
                http_status=status,
                http_content_type=http_ctype,
                payload=body,
                payload_len=len(body),
                error=None,
            )
            ix += 1


# ---------------------------------------------------------------------------
# Spark source / sink
# ---------------------------------------------------------------------------


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC reader: ``binaryFile`` scan → per-file parse.
    One row per record (+ error rows); ``payload`` holds the HTTP body
    for captured responses, the raw record payload otherwise."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        CHUNK = 512  # records per emitted frame: payload memory is
        # bounded by the chunk, not the file (the file BYTES are
        # resident regardless — binaryFile's unit; the record walk
        # itself is incremental)
        empty = {f.name: pd.Series(dtype=object) for f in WARC_SCHEMA.fields}
        emitted = False
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                rows: list[dict] = []
                for row in parse_warc_bytes(p, bytes(content)):
                    rows.append(row)
                    if len(rows) >= CHUNK:
                        emitted = True
                        yield pd.DataFrame(rows)
                        rows = []
                if rows:
                    emitted = True
                    yield pd.DataFrame(rows)
        if not emitted:
            yield pd.DataFrame(empty)

    return (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
        .mapInPandas(_parse, WARC_SCHEMA)
    )


def write_warc(
    df: DataFrame,
    out_dir: str,
    *,
    n_files: int = 8,
) -> None:
    """Distributed WARC sink over (url, html) rows: repartition, then
    each task writes one ``part-NNNNN.warc.gz`` (leading ``warcinfo``
    record + one gzip member per response record). Record IDs derive from md5(url) so
    output is deterministic for a deterministic input frame."""
    os.makedirs(out_dir, exist_ok=True)
    # overwrite semantics: clear prior part files so a re-run with a
    # different n_files cannot leave stale shards for the reader's glob
    for name in os.listdir(out_dir):
        if name.startswith("part-") and name.endswith(".warc.gz"):
            os.remove(os.path.join(out_dir, name))
    slim = df.select("url", "html")

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        info = build_record(
            "warcinfo",
            b"software: etfconstituentextractor_spark\r\n",
            record_id=f"warcinfo-{pid:05d}",
            content_type="application/warc-fields",
        )
        n = 0
        # stream members straight to the part file: the task's memory
        # is one record, not the whole shard (the reader-side rule,
        # applied to the writer too — round-7 review)
        with open(os.path.join(out_dir, f"part-{pid:05d}.warc.gz"), "wb") as fh:
            fh.write(gzip_member(info))
            for pdf in batches:
                for url, html in zip(pdf["url"], pdf["html"]):
                    raw = html.encode() if isinstance(html, str) else bytes(html)
                    rec = build_http_response_record(
                        url, raw, record_id=hashlib.md5(url.encode()).hexdigest()
                    )
                    fh.write(gzip_member(rec))
                    n += 1
        yield pd.DataFrame({"n": [n]})

    # hash-repartition on url (file membership deterministic regardless
    # of upstream partitioning) + in-partition sort (byte layout
    # deterministic too); the count() drives execution
    (
        slim.repartition(n_files, "url")
        .sortWithinPartitions("url")
        .mapInPandas(_write, "n long")
        .count()
    )
