"""WARC source/sink (sources/warc.py): spec-shaped serialization,
multi-member gzip streams, HTTP payload splitting, malformed-byte
error rows, and the distributed write→read roundtrip."""

from __future__ import annotations

import gzip
import hashlib

from etfconstituentextractor_spark.sources.warc import (
    build_http_response_record,
    build_record,
    gzip_member,
    parse_warc_bytes,
    read_warc,
    write_warc,
)


def test_record_serialization_is_spec_shaped():
    rec = build_record(
        "metadata",
        b"k: v\r\n",
        record_id="abc",
        target_uri="https://x.test/1",
    )
    head, _, rest = rec.partition(b"\r\n\r\n")
    lines = head.split(b"\r\n")
    assert lines[0] == b"WARC/1.1"
    assert b"WARC-Type: metadata" in lines
    assert b"WARC-Record-ID: <urn:uuid:abc>" in lines
    assert b"WARC-Target-URI: https://x.test/1" in lines
    assert b"Content-Length: 6" in lines
    assert rest == b"k: v\r\n" + b"\r\n\r\n"


def test_parse_roundtrip_plain_and_gzip():
    r1 = build_http_response_record("https://x.test/a", b"<html>A</html>", record_id="r1")
    r2 = build_record("warcinfo", b"software: t\r\n", record_id="r2",
                      content_type="application/warc-fields")
    for blob in (r2 + r1, gzip_member(r2) + gzip_member(r1)):
        rows = list(parse_warc_bytes("f", blob))
        assert [r["error"] for r in rows] == [None, None]
        assert [r["warc_type"] for r in rows] == ["warcinfo", "response"]
        resp = rows[1]
        assert resp["target_uri"] == "https://x.test/a"
        assert resp["http_status"] == 200
        assert resp["http_content_type"].startswith("text/html")
        assert resp["payload"] == b"<html>A</html>"
        assert resp["payload_len"] == 14
        # the warcinfo payload is NOT http — raw passthrough
        assert rows[0]["http_status"] is None
        assert rows[0]["payload"] == b"software: t\r\n"


def test_parse_stdlib_gzip_interop():
    """Members produced by stdlib gzip (nonzero header fields) parse
    identically — the reader must not assume OUR writer's bytes."""
    rec = build_http_response_record("u", b"body", record_id="x")
    rows = list(parse_warc_bytes("f", gzip.compress(rec)))
    assert [r["error"] for r in rows] == [None]
    assert rows[0]["payload"] == b"body"


def test_malformed_streams_become_error_rows():
    good = build_record("metadata", b"ok", record_id="g")

    # truncated gzip member
    gz = gzip_member(good)
    rows = list(parse_warc_bytes("f", gz[: len(gz) // 2]))
    assert rows[-1]["error"] in ("truncated_gzip_member",) or rows[-1][
        "error"
    ].startswith("bad_gzip_member")

    # corrupt gzip bytes
    rows = list(parse_warc_bytes("f", b"\x1f\x8b" + b"\x00" * 40))
    assert rows[-1]["error"].startswith("bad_gzip_member")

    # not a WARC record at all
    rows = list(parse_warc_bytes("f", b"HTTP/1.1 200 OK\r\n\r\n"))
    assert rows == [r | {"error": "missing_warc_version_line"} for r in rows]

    # missing Content-Length
    bad = b"WARC/1.1\r\nWARC-Type: metadata\r\n\r\npayload"
    rows = list(parse_warc_bytes("f", bad))
    assert rows[-1]["error"] == "bad_content_length"

    # Content-Length overruns the stream
    bad = b"WARC/1.1\r\nWARC-Type: metadata\r\nContent-Length: 9999\r\n\r\nshort"
    rows = list(parse_warc_bytes("f", bad))
    assert rows[-1]["error"] == "payload_exceeds_stream"

    # header line with no colon
    bad = b"WARC/1.1\r\nNOCOLON\r\nContent-Length: 2\r\n\r\nok\r\n\r\n"
    rows = list(parse_warc_bytes("f", bad))
    assert rows[-1]["error"].startswith("malformed_header_line")

    # a bad member does not erase rows from earlier good members
    blob = gzip_member(good) + gzip_member(good)[:10]
    rows = list(parse_warc_bytes("f", blob))
    assert rows[0]["error"] is None and rows[1]["error"] is not None


def test_parse_is_incremental_per_member():
    """A framing error inside one member poisons that member only;
    later members still parse (uncompressed streams stop at the error
    since byte offsets are unrecoverable)."""
    good = build_record("metadata", b"ok", record_id="g")
    bad = b"WARC/1.1\r\nContent-Length: nope\r\n\r\n"
    blob = gzip_member(bad) + gzip_member(good)
    rows = list(parse_warc_bytes("f", blob))
    assert [r["error"] for r in rows] == ["bad_content_length", None]


def test_http_payload_edge_cases():
    # non-http payload in a response record: raw passthrough
    rec = build_record("response", b"not http", record_id="r",
                      content_type="application/http;msgtype=response")
    row = next(iter(parse_warc_bytes("f", rec)))
    assert row["http_status"] is None and row["payload"] == b"not http"
    # unparsable status line
    rec = build_record("response", b"HTTP/1.1 OK\r\n\r\nbody", record_id="r")
    row = next(iter(parse_warc_bytes("f", rec)))
    assert row["http_status"] is None and row["payload"].startswith(b"HTTP/1.1")


def test_distributed_roundtrip(spark, tmp_path):
    """write_warc → read_warc over Spark: every document comes back
    byte-identical, keyed by URL, with the per-shard warcinfo records
    alongside; a second write is byte-deterministic."""
    docs = [(f"https://x.test/doc/{i}", f"<html><p>doc {i} é</p></html>") for i in range(37)]
    df = spark.createDataFrame(docs, "url string, html string")
    out = tmp_path / "warcs"
    write_warc(df, str(out), n_files=4)
    names = sorted(p.name for p in out.iterdir())
    assert names == [f"part-{i:05d}.warc.gz" for i in range(4)]

    back = read_warc(spark, str(out / "*.warc.gz"))
    rows = back.collect()
    assert all(r.error is None for r in rows)
    got = {r.target_uri: bytes(r.payload).decode() for r in rows if r.warc_type == "response"}
    assert got == dict(docs)
    infos = [r for r in rows if r.warc_type == "warcinfo"]
    assert len(infos) == 4
    assert {r.http_status for r in rows if r.warc_type == "response"} == {200}

    # byte-determinism of the sink (membership + in-file order)
    first = {p.name: hashlib.md5(p.read_bytes()).hexdigest() for p in out.iterdir()}
    write_warc(df.repartition(7), str(out), n_files=4)
    second = {p.name: hashlib.md5(p.read_bytes()).hexdigest() for p in out.iterdir()}
    assert first == second


def test_write_warc_overwrites_stale_shards(spark, tmp_path):
    """A re-run with fewer files must remove the extra shards from the
    previous layout (otherwise the reader's glob resurrects them)."""
    docs = [(f"https://x.test/{i}", f"<p>{i}</p>") for i in range(20)]
    df = spark.createDataFrame(docs, "url string, html string")
    out = tmp_path / "w"
    write_warc(df, str(out), n_files=8)
    assert len(list(out.glob("part-*.warc.gz"))) == 8
    write_warc(df, str(out), n_files=2)
    assert len(list(out.glob("part-*.warc.gz"))) == 2
    back = read_warc(spark, str(out / "*.warc.gz"))
    resp = back.filter("warc_type = 'response'").collect()
    assert len(resp) == 20  # no resurrected duplicates


def test_utf8_target_uri_roundtrip(spark, tmp_path):
    """WARC 1.1 headers are UTF-8 (ISO 28500): internationalized URIs
    must round-trip exactly, not as latin-1 mojibake (review r7)."""
    docs = [("https://example.com/café/日本", "<p>x</p>")]
    df = spark.createDataFrame(docs, "url string, html string")
    out = tmp_path / "w8"
    write_warc(df, str(out), n_files=1)
    rows = read_warc(spark, str(out / "*.warc.gz")).filter("warc_type='response'").collect()
    assert rows[0].target_uri == docs[0][0]
    # non-UTF-8 header bytes still parse (latin-1 fallback, never raise)
    raw = build_record("metadata", b"x", record_id="r")
    raw = raw.replace(b"<urn:uuid:r>", b"<urn:uuid:r\xff>")
    got = list(parse_warc_bytes("f", raw))
    assert got[0]["error"] is None and "\xff" in got[0]["record_id"]
