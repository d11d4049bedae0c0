"""Property fuzz for the round-7 operators, each against an
INDEPENDENT pure-Python reference built on stdlib parsing
(urllib.parse for URLs), the repo's replay convention:

- normalize_url vs a urllib.parse-based implementation of the same
  documented spec, over structured random URLs (userinfo, IPv6,
  ports, tracking params, fragments, odd paths);
- funnel vs a brute-force chained-minimum walk over random event
  streams (shuffled timestamps, duplicate ts, missing steps);
- the WARC parser never raises on arbitrary corrupted bytes — every
  defect is an error row (the reference-R22 contract under fuzz).
"""

from __future__ import annotations

import random
import urllib.parse

from etfconstituentextractor_spark.operators.urls import TRACKING_PARAMS, normalize_url


def _py_normalize(u: str) -> str:
    """Independent implementation of the documented canonicalization
    via urllib.parse (never shares code with the Spark expression)."""
    t = u.strip()
    parts = urllib.parse.urlsplit(t)
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https") or not parts.hostname:
        return t
    import re as _re

    if not _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", t):
        return t  # '://'-less scheme form passes through
    host = parts.hostname.rstrip(".")  # FQDN trailing dot drops
    if not host:
        return t
    if ":" in host:  # IPv6 literal — re-bracket
        host = f"[{host}]"
    try:
        port = parts.port
    except ValueError:
        return t  # junk port -> out of grammar, passthrough
    default = 80 if scheme == "http" else 443
    hostport = host if port in (None, default) else f"{host}:{port}"
    path = parts.path or "/"
    if path != "/" and path.endswith("/"):
        path = path[:-1]
    kept = [
        p
        for p in parts.query.split("&")
        if p and not any(p.startswith(tp + "=") for tp in TRACKING_PARAMS)
    ] if parts.query else []
    query = ("?" + "&".join(kept)) if kept else ""
    return f"{scheme}://{hostport}{path}{query}"


def test_normalize_url_fuzz_vs_urllib(spark):
    rng = random.Random(77)
    hosts = ["Example.COM", "a.B.c.org", "x-y.net", "[2001:DB8::1]", "[::1]", "q.co.uk",
             "example.com.", "10.1.2.3"]
    users = ["", "bob@", "a:b@", "x%40y@"]
    ports = ["", ":80", ":443", ":8080", ":1", ":8080x"]
    paths = ["", "/", "/a", "/a/b/", "/A%20B", "/a//b", "/trailing/"]
    params = ["id=7", "utm_source=x", "b=2", "fbclid=q", "a=1", "ref=z", "refresh=1", "utm_medium="]
    frags = ["", "#f", "#a/b?c=1"]
    urls = []
    for _ in range(300):
        scheme = rng.choice(["http", "https", "HTTP", "Https"])
        q = "&".join(rng.sample(params, rng.randint(0, 4)))
        urls.append(
            f"{scheme}://{rng.choice(users)}{rng.choice(hosts)}{rng.choice(ports)}"
            f"{rng.choice(paths)}{('?' + q) if q else ''}{rng.choice(frags)}"
        )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.n for r in df.select(normalize_url().alias("n")).collect()]
    want = [_py_normalize(u) for u in urls]
    bad = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
    assert not bad, bad[:5]


def test_funnel_fuzz_vs_python(spark):
    from etfconstituentextractor_spark.operators.funnel import funnel

    rng = random.Random(13)
    steps = ("s1", "s2", "s3")
    types = ["s1", "s2", "s3", "noise"]
    rows = []
    for uid in range(60):
        for _ in range(rng.randint(0, 12)):
            rows.append(
                (uid, rng.randint(0, 50), rng.choice(types))
            )
    if not rows:
        rows = [(0, 0, "s1")]
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    ts_rows = [(u, base + dt.timedelta(minutes=m), t) for u, m, t in rows]
    df = spark.createDataFrame(ts_rows, "user_id bigint, ts timestamp_ntz, event_type string")
    got = {
        r.user_id: (r.stage, r.funnel_sec)
        for r in funnel(df, steps).collect()
    }

    def py(uid):
        evs = sorted((ts, t) for u, ts, t in ts_rows if u == uid)
        cur = None
        hit = []
        for step in steps:
            cands = [ts for ts, t in evs if t == step and (cur is None or ts >= cur)]
            if not cands:
                break
            cur = min(cands)
            hit.append(cur)
        stage = len(hit)
        sec = int((hit[-1] - hit[0]).total_seconds()) if stage >= 2 else None
        return stage, sec

    want = {u: py(u) for u in {r[0] for r in ts_rows}}
    assert got == want


def test_warc_parser_never_raises_on_fuzz():
    from etfconstituentextractor_spark.sources.warc import (
        WARC_SCHEMA,
        build_record,
        gzip_member,
        parse_warc_bytes,
    )

    rng = random.Random(5)
    good = build_record("metadata", b"payload", record_id="g")
    seeds = [b"", good, gzip_member(good), gzip_member(good) + gzip_member(good)]
    names = {f.name for f in WARC_SCHEMA.fields}
    for trial in range(400):
        base = bytearray(rng.choice(seeds))
        for _ in range(rng.randint(0, 6)):
            op = rng.randint(0, 2)
            if op == 0 and base:
                base[rng.randrange(len(base))] = rng.randrange(256)
            elif op == 1:
                base = base[: rng.randint(0, len(base))]
            else:
                base += bytes(rng.randrange(256) for _ in range(rng.randint(1, 9)))
        rows = list(parse_warc_bytes("f", bytes(base)))  # must never raise
        for r in rows:
            assert set(r) == names


def test_crawl_ingest_composition(spark, tmp_path):
    """The round-7 pieces as one pipeline: WARC shards -> distributed
    read -> URL canonicalization -> URL-keyed exact dedup.
    Tracking-param variants of the same page collapse to one
    survivor."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.operators.urls import normalize_url
    from etfconstituentextractor_spark.sources.warc import read_warc, write_warc

    pages = [
        ("http://a.test/page?utm_source=x", "<p>A</p>"),
        ("http://A.TEST/page/", "<p>A older</p>"),       # same canonical URL
        ("http://a.test/other", "<p>B</p>"),
        ("http://ads.bad.test/x?id=1", "<p>ad</p>"),     # id is not tracking
        ("https://c.test/p?b=2&utm_medium=m&a=1", "<p>C</p>"),
    ]
    df = spark.createDataFrame(pages, "url string, html string")
    out = tmp_path / "crawl"
    write_warc(df, str(out), n_files=2)

    recs = (
        read_warc(spark, str(out / "*.warc.gz"))
        .filter("warc_type = 'response' AND error IS NULL")
        .select(F.col("target_uri").alias("url"), F.col("payload").cast("string").alias("html"))
    )
    clean = recs.withColumn("curl", normalize_url())
    w = W.partitionBy("curl").orderBy("url")  # deterministic survivor
    dedup = (
        clean.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("curl", "html")
    )
    got = {r.curl: r.html for r in dedup.collect()}
    assert set(got) == {
        "http://a.test/page",
        "http://a.test/other",
        "http://ads.bad.test/x?id=1",
        "https://c.test/p?b=2&a=1",
    }
    # the two a.test/page variants collapsed; the lexicographically
    # first ORIGINAL url won (http://A.TEST/page/ < http://a.test/...)
    assert got["http://a.test/page"] == "<p>A older</p>"
