"""Unit tests for composed operators against hand-computed micro-frames
(SURVEY.md §5.2 engine-side additions)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.asof import asof_join, within_tolerance
from etfconstituentextractor_spark.plans.registry import QUERIES, load_catalog

load_catalog()


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_micro(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "a"), (1, _ts("2024-01-01T12:00:00"), "b"),
         (2, _ts("2024-01-01T09:00:00"), "c")],
        "k bigint, lts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:30:00"), 10.0), (1, _ts("2024-01-01T11:00:00"), 20.0),
         (1, _ts("2024-01-01T12:00:00"), 30.0), (2, _ts("2024-01-01T09:30:00"), 99.0)],
        "k bigint, rts timestamp_ntz, v double",
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_payload={"rts": "rts", "v": "v"},
    ).orderBy("k", "lts").collect()
    # 10:00 -> 09:30 match; 12:00 -> 12:00 (>= includes simultaneous);
    # key 2 at 09:00 has no prior right row -> nulls
    assert [r.v for r in out] == [10.0, 30.0, None]


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"))], "k bigint, lts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T06:00:00"), 7.0)], "k bigint, rts timestamp_ntz, v double"
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_payload={"rts": "rts", "v": "v"},
    ).select(
        F.when(within_tolerance("lts", "rts", F.expr("INTERVAL 1 HOUR")), F.col("v")).alias("v")
    ).collect()
    assert out[0].v is None  # match exists but is older than tolerance


def test_approx_count_distinct_bound(spark, sf_dir):
    rows = QUERIES["q36_agg_approx_count_distinct"](spark, sf_dir).collect()
    for r in rows:
        # engine sketches: the query itself emits their accuracy
        # contracts as booleans (what the oracle hash-checks)
        assert r.acd_ok and r.apx_median_ok, r
        # deterministic HLL: estimate within the p=12 error band and
        # the dyadic register-sum invariants hold
        assert r.hll_ok, r
        assert 0 <= r.hll_zero_regs <= 4096, r
        assert r.hll_sum_dyadic <= 4096 * (1 << 49), r


def test_parse_filing_document_paths():
    from etfconstituentextractor_spark.operators.documents import parse_filing_document

    good = (
        "<html><body><h4>FORM NPORT-P</h4>"
        "<table><tr><td>Reporting date</td><td> 2024-06-30 </td></tr></table>"
        "<h1>Portfolio investment</h1><table>"
        "<tr><td>Name of Issuer</td><td>Acme Corp</td></tr>"
        "<tr><td>Number of Shares</td><td>1,234</td></tr>"
        "<tr><td>Value (USD)</td><td>9,876.50</td></tr>"
        "<tr><td>Pct of Net Assets</td><td>0.0150</td></tr></table>"
        "<h1>Portfolio investment</h1><table>"
        "<tr><td>Name of Issuer</td><td>Beta LLC</td></tr></table>"
        "<h1>Portfolio investment</h1><table></table>"
        "</body></html>"
    )
    date, rows, err = parse_filing_document(good)
    assert err is None and date == "2024-06-30"
    # 3 sections: full, partial (null-tolerant fields), all-empty (dropped)
    assert len(rows) == 2
    assert rows[0]["issuer"] == "Acme Corp" and rows[0]["shares_str"] == "1,234"
    assert rows[1]["issuer"] == "Beta LLC" and rows[1]["value_str"] is None

    no_date = "<html><body><h4>FORM NPORT-P</h4><h1>Portfolio investment</h1></body></html>"
    date, rows, err = parse_filing_document(no_date)
    assert err == "missing_reporting_date" and rows == []


def test_asof_join_name_collision_rejected(spark):
    import pytest

    left = spark.createDataFrame([(1, _ts("2024-01-01T10:00:00"), 5.0)],
                                 "k bigint, lts timestamp_ntz, v double")
    right = spark.createDataFrame([(1, _ts("2024-01-01T09:00:00"), 7.0)],
                                  "k bigint, rts timestamp_ntz, v double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                  right_payload={"v": "v"})


def test_binaryfile_source_decode(spark, tmp_path):
    """§2B multimodal: the binaryFile source feeding the decode stage
    (out-of-corpus files, so unit-tested rather than oracle-checked)."""
    from etfconstituentextractor_spark.plans.multimodal import decode_blobs

    import hashlib

    payloads = {0: b"hello world", 1: b"spark \xe4\xb8\xad\xe6\x96\x87"}
    for i, payload in payloads.items():
        blob = b"IMG0" + f"{len(payload):08X}".encode() + payload
        (tmp_path / f"b{i}.bin").write_bytes(blob)
    (tmp_path / "b2.bin").write_bytes(b"JUNKJUNKJUNK")

    files = spark.read.format("binaryFile").load(str(tmp_path))
    blobs = files.select(
        F.regexp_extract(F.col("path"), r"b(\d+)\.bin", 1).cast("bigint").alias("doc_id"),
        F.col("content").alias("blob"),
    )
    rows = {r.doc_id: r for r in decode_blobs(blobs).collect()}
    assert rows[0].error is None and rows[0].payload_len == 11
    assert rows[0].payload_md5 == hashlib.md5(payloads[0]).hexdigest()
    # stub dimensions derive from the payload length
    assert (rows[0].width, rows[0].height) == (11 % 640 + 1, 11 % 480 + 1)
    assert rows[1].payload_len == len(payloads[1])
    assert rows[2].error == "bad_magic" and rows[2].payload_md5 is None


def test_connected_components_micro(spark):
    from etfconstituentextractor_spark.operators.components import connected_components

    # two components: {1,2,3,4} (chain) and {7,9}; 4-3-2-1 chain needs
    # multiple propagation rounds
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (9, 7)], "src bigint, dst bigint"
    )
    labels = {r.node: r.component for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


def test_connected_components_empty_and_presymmetrized(spark):
    """Round-14 loop internals: the changed-label count is an
    Observation metric on the checkpoint materialization (count, not
    sum — sum is NULL over an empty frame), so (a) a no-edges graph
    must return an empty labels frame instead of crashing the
    convergence comparison, and (b) feeding an ALREADY-symmetric edge
    set (q65 now shares one sym checkpoint between CC and pagerank)
    must label identically to the directed spelling."""
    from etfconstituentextractor_spark.operators.components import connected_components

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(empty).collect() == []

    directed = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (9, 7)], "src bigint, dst bigint"
    )
    sym = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    want = {r.node: r.component for r in connected_components(directed).collect()}
    got = {r.node: r.component for r in connected_components(sym).collect()}
    assert got == want == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


def test_connected_components_on_neardup_pairs(spark, sf_dir):
    """End-to-end: q63's near-dup PAIRS cluster into duplicate GROUPS;
    every pair's two docs must land in the same component."""
    from etfconstituentextractor_spark.operators.components import connected_components

    pairs = QUERIES["q63_dedup_jaccard_simhash"](spark, sf_dir).filter(F.col("leg") == "jaccard").select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    if pairs.count() == 0:
        return
    comp = connected_components(pairs)
    joined = (
        pairs.join(comp.withColumnRenamed("node", "src").withColumnRenamed("component", "ca"), "src")
        .join(comp.withColumnRenamed("node", "dst").withColumnRenamed("component", "cb"), "dst")
    )
    assert joined.filter("ca <> cb").count() == 0


def test_json_file_source_scan(spark, sf_dir, tmp_path):
    """§2B 'Scans — JSON': spark.read.json with an explicit schema over
    JSON-lines written from events.props (no inference job)."""
    from etfconstituentextractor_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").limit(200)
    out = str(tmp_path / "props_jsonl")
    ev.select("event_id", "props").write.mode("overwrite").json(out)
    back = spark.read.schema("event_id bigint, props string").json(out)
    assert back.count() == 200
    k = back.selectExpr("get_json_object(props, '$.k') AS k").filter("k IS NOT NULL")
    assert k.count() == 200


def _ivf_frames(spark, sf_dir):
    from etfconstituentextractor_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    centroids = e.filter("id % 37 = 0").select(
        F.col("id").alias("cell"), F.col("v").alias("cv")
    )
    queries = e.filter("id < 5").select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    corpus = e.filter("id >= 5")
    return corpus, queries, centroids


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """nprobe = K degrades IVF to exact brute force — the correctness
    anchor for the pruned variant."""
    from etfconstituentextractor_spark.operators.ann import ivf_index, ivf_topk

    corpus, queries, centroids = _ivf_frames(spark, sf_dir)
    n_cells = centroids.count()
    indexed = ivf_index(corpus, centroids)
    assert indexed.count() == corpus.count()  # every vector lands in a cell

    got = sorted(
        (r.qid, r.rn, r.id)
        for r in ivf_topk(indexed, queries, centroids, k=5, nprobe=n_cells).collect()
    )

    from pyspark.sql import Window as W

    dot = "aggregate(zip_with(v, qv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    nrm = "sqrt(aggregate(zip_with({0}, {0}, (x, y) -> x * y), 0D, (acc, x) -> acc + x))"
    scored = corpus.crossJoin(queries).select(
        "qid",
        "id",
        F.round(F.expr(dot) / (F.expr(nrm.format("v")) * F.expr(nrm.format("qv"))), 6).alias(
            "cos_sim"
        ),
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("id"))
    want = sorted(
        (r.qid, r.rn, r.id)
        for r in scored.withColumn("rn", F.row_number().over(w)).filter("rn <= 5").collect()
    )
    assert got == want


def test_ivf_pruned_probe_recall(spark, sf_dir):
    """nprobe=3 of ~14 cells must still recover most true neighbors —
    and scan far fewer candidates than brute force."""
    from etfconstituentextractor_spark.operators.ann import ivf_index, ivf_topk

    corpus, queries, centroids = _ivf_frames(spark, sf_dir)
    n_cells = centroids.count()
    indexed = ivf_index(corpus, centroids)
    exact = {
        (r.qid, r.id)
        for r in ivf_topk(indexed, queries, centroids, k=5, nprobe=n_cells).collect()
    }
    pruned = {
        (r.qid, r.id)
        for r in ivf_topk(indexed, queries, centroids, k=5, nprobe=3).collect()
    }
    recall = len(exact & pruned) / len(exact)
    assert recall >= 0.5, recall


def test_q71_multitable_lsh_recall_and_scan_fraction(spark, sf_dir):
    """The registered SRP-LSH config's BOTH dials, measured against
    brute force (deterministic corpus + deterministic planes, so
    these are fixed numbers with slack, not flaky statistics):
    recall@5 must clear a floor AND the candidate set must stay a
    fraction of all pairs — the single-table predecessor was
    oracle-green yet measured recall 0.0, which is the failure mode
    this test exists to catch."""
    import numpy as np

    import etfconstituentextractor_spark.plans.llm_similarity as ls
    from etfconstituentextractor_spark.sources.tables import load

    load_catalog()
    approx = {
        (r.query_id, r.candidate_id)
        for r in QUERIES["q71_similarity_lsh_ann"](spark, sf_dir)
        .filter(F.col("leg") == "single")
        .collect()
    }
    from ann_truth import exact_topk

    rows = load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=float) for r in rows}
    nq, k = ls._N_QUERIES, ls._TOP_K
    qs = sorted(v for v in vecs if v < nq)
    cs = sorted(v for v in vecs if v >= nq)
    exact = exact_topk(vecs, nq, k)
    # floor within ~25% of the worst measured value (round-8 verdict:
    # the old 0.3 floor was half the worst measurement — a recall
    # halving would have passed). Measured r9: 0.76 @sf0.001,
    # 0.58 @sf0.01, 0.72 @sf0.1 (12x5); sf0.1 pinned separately in
    # test_approx_quality_sf01.py.
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall

    # scan fraction: candidates the bucket join actually surfaces —
    # derived through the SAME operators/ann.py bucket expression the
    # registered query uses, so this measures q71's construction, not
    # a re-implementation of it
    from etfconstituentextractor_spark.operators.ann import srp_index_buckets

    e = ls._vec(load(spark, sf_dir, "embeddings")).withColumn(
        "dots", F.expr(ls._spark_dots("v"))
    )
    tb = srp_index_buckets(e, ls._LSH_TABLES, ls._LSH_PLANES_PER_TABLE)
    n_cand = (
        tb.filter(F.col("vec_id") < nq)
        .select(F.col("vec_id").alias("q"), "t", "b")
        .join(tb.filter(F.col("vec_id") >= nq).select(F.col("vec_id").alias("c"), "t", "b"), ["t", "b"])
        .select("q", "c")
        .distinct()
        .count()
    )
    frac = n_cand / (len(qs) * len(cs))
    assert frac <= 0.4, frac  # 12x5 predicts/measures ~0.32 for random pairs


def test_q62_banded_minhash_recall_vs_true_jaccard(spark, sf_dir):
    """The q71 lesson applied to MinHash LSH: the oracle restates the
    same banded construction, so only a ground-truth comparison can
    say whether the b=6×r=2 bands actually FIND the near-duplicates.
    Ground truth = exact Jaccard >= 0.5 over the same 3-shingle sets,
    brute-forced in Python; the leg's emitted pairs must (a) all be
    true pairs (the exact verify join guarantees it — pin it anyway)
    and (b) cover most of them (theory floor at J=0.5 exactly:
    1-(1-J^2)^6 = 0.82; planted families sit higher)."""
    from etfconstituentextractor_spark.operators.text import spark_shingles
    from etfconstituentextractor_spark.sources.tables import load

    load_catalog()
    d = load(spark, sf_dir, "documents")
    rows = (
        d.select(
            "doc_id", F.expr(spark_shingles("split(text, ' ')")).alias("sh")
        )
        .filter(F.expr("size(split(text, ' '))") >= 3)
        .collect()
    )
    sets = {r.doc_id: set(r.sh) for r in rows}
    ids = sorted(sets)
    true_pairs = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter and inter / len(sets[a] | sets[b]) >= 0.5:
                true_pairs.add((a, b))
    assert true_pairs, "fixture must contain planted near-dup families"

    out = QUERIES["q62_dedup_minhash_lsh"](spark, sf_dir)
    got = {
        (r.doc_a, r.doc_b)
        for r in out.filter(F.col("leg") == "full").collect()
    }
    assert got <= true_pairs  # no false positives past the verify join
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.7, (recall, len(true_pairs))


def test_multiprobe_srp_lsh_beats_single_probe_at_equal_index(spark, sf_dir):
    """Multi-probe LSH's whole claim (operators/ann.py): flipping the
    least-confident sign per table raises recall WITHOUT growing the
    stored index. Measured head-to-head on the same 6-table×5-plane
    index: 2-probe recall must strictly beat 1-probe recall, every
    1-probe candidate must also be a 2-probe candidate (probes are a
    superset), and the probe-side cost is exactly 2 buckets per table
    per query."""
    import numpy as np

    import etfconstituentextractor_spark.plans.llm_similarity as ls
    from etfconstituentextractor_spark.operators.ann import (
        srp_index_buckets,
        srp_query_probes,
    )
    from etfconstituentextractor_spark.operators.veckernel import append_plane_dots
    from etfconstituentextractor_spark.sources.tables import load

    n_tables, r = 6, 5
    planes = ls._plane_matrix()[: n_tables * r]
    # q71's projection: kernel dots, rounded to 9 places in the JVM
    ev = append_plane_dots(
        ls._vec(load(spark, sf_dir, "embeddings")), "v", planes, "raw"
    ).withColumn("dots", F.expr("transform(raw, d -> round(d, 9))"))
    nq = ls._N_QUERIES
    idx = srp_index_buckets(ev.filter(F.col("vec_id") >= nq), n_tables, r)
    q1 = srp_index_buckets(ev.filter(F.col("vec_id") < nq), n_tables, r)
    q2 = srp_query_probes(ev.filter(F.col("vec_id") < nq), n_tables, r)
    assert q2.count() == 2 * q1.count()

    def cands(qb):
        return {
            (r_.q, r_.c)
            for r_ in qb.select(F.col("vec_id").alias("q"), "t", "b")
            .join(idx.select(F.col("vec_id").alias("c"), "t", "b"), ["t", "b"])
            .select("q", "c")
            .distinct()
            .collect()
        }

    c1, c2 = cands(q1), cands(q2)
    assert c1 <= c2  # base probes are contained in multi-probe

    from ann_truth import exact_topk

    rows = load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {x.vec_id: np.array(x.embedding, dtype=float) for x in rows}
    exact = exact_topk(vecs, nq, 5)
    r1 = len(c1 & exact) / len(exact)
    r2 = len(c2 & exact) / len(exact)
    assert r2 > r1, (r1, r2)


def test_q64_semdedup_blocking_beats_chance(spark, sf_dir):
    """SemDeDup can only deduplicate pairs its learned clusters
    CO-BLOCK, so the quality question is whether the k-means
    assignment concentrates true high-cosine pairs into shared cells.
    On this corpus the embeddings are near-random (no real cluster
    structure — the method's worst case), so the honest pin is LIFT
    over chance, not an absolute recall floor: the co-cluster rate of
    true cos>=0.3 pairs must beat the co-cluster rate of arbitrary
    pairs by >=3x (measured ~6.5x: 0.20 vs 0.031)."""
    import numpy as np

    import etfconstituentextractor_spark.plans.llm_similarity as ls
    from etfconstituentextractor_spark.operators.semdedup import (
        assign_clusters,
        semantic_seeds,
    )
    from etfconstituentextractor_spark.sources.tables import load

    ev = ls._vec(load(spark, sf_dir, "embeddings"))
    assigned = assign_clusters(ev, semantic_seeds(ev, 32))
    cells = {r.vec_id: r.cell for r in assigned.collect()}
    rows = load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=float) for r in rows}
    ids = sorted(vecs)
    nrm = {i: np.linalg.norm(vecs[i]) for i in ids}
    true_pairs = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if float(vecs[a] @ vecs[b] / (nrm[a] * nrm[b])) >= 0.3
    ]
    assert true_pairs
    co = sum(1 for a, b in true_pairs if cells[a] == cells[b]) / len(true_pairs)
    # chance rate: probability an arbitrary pair shares a cell
    from collections import Counter

    sizes = Counter(cells.values())
    n = len(ids)
    chance = sum(s * (s - 1) for s in sizes.values()) / (n * (n - 1))
    assert co >= 3 * chance, (co, chance)


def test_xml_path_extraction(spark, sf_dir):
    """§2B 'Scans — HTML/XML docs', XML leg: for well-formed XML the
    engine uses built-in from_xml / xpath (JVM-side) instead of the
    Python DOM UDTF. Filings rendered as XML from customer rows parse
    back typed."""
    from etfconstituentextractor_spark.sources.tables import load

    c = load(spark, sf_dir, "customer").limit(50)
    xml = c.select(
        "c_custkey",
        F.concat(
            F.lit("<holding><issuer>"), F.col("c_name"),
            F.lit("</issuer><bal>"), F.col("c_acctbal").cast("string"),
            F.lit("</bal></holding>"),
        ).alias("doc"),
    )
    parsed = xml.select(
        "c_custkey",
        F.from_xml("doc", "issuer string, bal double").alias("h"),
        F.expr("xpath_string(doc, '/holding/issuer')").alias("issuer_xp"),
    ).select("c_custkey", "h.issuer", "h.bal", "issuer_xp")
    rows = {r.c_custkey: r for r in parsed.collect()}
    orig = {r.c_custkey: r for r in c.collect()}
    assert len(rows) == 50
    for k, r in rows.items():
        assert r.issuer == orig[k].c_name == r.issuer_xp
        assert abs(r.bal - orig[k].c_acctbal) < 1e-9


def test_ngram_jaccard_block_cap(spark):
    """q63's scale guard: a block larger than max_block is excluded
    from the all-pairs self-join and surfaces in the accounting frame
    (size + refused pair count); small blocks are unaffected."""
    from etfconstituentextractor_spark.plans.llm_dedup import ngram_jaccard_pairs

    text = "alpha beta gamma delta epsilon"
    rows = [(i, "big", 50, text) for i in range(8)]  # one oversized block
    rows += [(100, "small", 50, text), (101, "small", 50, text + " zeta")]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, n_chars bigint, text string"
    )
    pairs, skipped = ngram_jaccard_pairs(docs, max_block=5)

    got_pairs = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got_pairs == {(100, 101)}, got_pairs  # nothing from the big block

    sk = skipped.collect()
    assert len(sk) == 1
    assert (sk[0].source, sk[0].len_bucket) == ("big", 0)
    assert sk[0].block_n == 8
    assert sk[0].skipped_pairs == 8 * 7 // 2

    # default cap: nothing skipped on the corpus-shaped small fixture
    _, skipped_default = ngram_jaccard_pairs(docs)
    assert skipped_default.count() == 0


def test_embedding_cosine_block_cap(spark):
    """q64's scale guard (round-4 verdict item 3): a label block larger
    than the cap is excluded from the within-block all-pairs cosine
    join — one skewed label must not go quadratic at scale. Small
    blocks are unaffected, and identical vectors pair at cos_sim 1."""
    from etfconstituentextractor_spark.plans.llm_dedup import embedding_cosine_pairs

    v = [1.0, 0.0, 2.0]
    rows = [(i, "big", v) for i in range(6)]  # oversized at cap=5
    rows += [(100, "small", v), (101, "small", v)]
    e = spark.createDataFrame(
        rows, "vec_id bigint, label string, v array<double>"
    )
    got = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in embedding_cosine_pairs(e, cap=5).collect()
    }
    assert got == {(100, 101, 1.0)}, got

    # default cap admits every corpus-shaped block
    assert embedding_cosine_pairs(e).count() == 6 * 5 // 2 + 1


def test_ngram_contamination_micro(spark):
    """Planted fixture with exact expected verdicts: a verbatim copy of
    an eval doc ('contaminated' at threshold 2), a one-gram collision
    ('suspect'), a disjoint doc ('clean'), and a sub-n-token doc
    (n_ngrams=0 — must still appear, ratio 0.0)."""
    from etfconstituentextractor_spark.operators.contamination import ngram_contamination

    eval_docs = spark.createDataFrame(
        [(100, "a b c d e f")], "doc_id bigint, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # identical: 3/3 grams match
            (2, "a b c d x y z"),    # shares exactly 'a b c d': 1/4
            (3, "q w e r t"),        # disjoint: 0/2
            (4, "q w e"),            # < 4 tokens: no grams at all
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in ngram_contamination(
            train, eval_docs, n=4, contaminated_at=2
        ).collect()
    }
    assert len(out) == 4
    assert (out[1].n_ngrams, out[1].n_matched, out[1].verdict) == (3, 3, "contaminated")
    assert abs(out[1].hit_ratio - 1.0) < 1e-9
    assert (out[2].n_ngrams, out[2].n_matched, out[2].verdict) == (4, 1, "suspect")
    assert (out[3].n_ngrams, out[3].n_matched, out[3].verdict) == (2, 0, "clean")
    assert (out[4].n_ngrams, out[4].n_matched, out[4].verdict) == (0, 0, "clean")
    assert out[4].hit_ratio == 0.0


def test_hash_sampling_deterministic_and_exact(spark, sf_dir):
    """Sampling is a pure function of the key: identical output across
    runs; quota leg yields exactly min(k, |stratum|) rows; rate 1.0
    keeps everything, rate 0.0 nothing; and a lower rate selects a
    subset of a higher rate's rows (nested thresholds — the property
    that makes mixture re-weighting reproducible)."""
    from etfconstituentextractor_spark.operators.sampling import (
        hash_rate_sample,
        stratified_quota_sample,
    )
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    sizes = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}

    q = stratified_quota_sample(d, strat_col="lang", key_col="doc_id", k=7)
    per = {r.lang: r.n for r in q.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per == {lg: min(7, n) for lg, n in sizes.items()}
    assert {tuple(sorted(r.doc_id for r in q.collect()))} == {
        tuple(sorted(r.doc_id for r in q.collect()))
    }  # stable across actions

    langs = sorted(sizes)
    all_r = hash_rate_sample(d, {lg: 1.0 for lg in langs}, strat_col="lang", key_col="doc_id")
    none_r = hash_rate_sample(d, {lg: 0.0 for lg in langs}, strat_col="lang", key_col="doc_id")
    assert all_r.count() == d.count()
    assert none_r.count() == 0

    lo = hash_rate_sample(d, {lg: 0.2 for lg in langs}, strat_col="lang", key_col="doc_id")
    hi = hash_rate_sample(d, {lg: 0.6 for lg in langs}, strat_col="lang", key_col="doc_id")
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids <= hi_ids
    # buckets are in range and the kept fraction is in a loose
    # Chernoff-ish band around the rate
    assert all(0 <= r.bucket < 10_000 for r in hi.collect())
    n = d.count()
    assert 0.4 * n < len(hi_ids) < 0.8 * n


def test_hash_oversample_exact_copies(spark, sf_dir):
    """With-replacement mixture: every row appears exactly
    floor(rate) + (bucket < frac·10000) times, with copy_id 1..n —
    checked against an independent hashlib bucket computation."""
    import hashlib

    from etfconstituentextractor_spark.operators.sampling import hash_oversample
    from etfconstituentextractor_spark.sources.tables import load

    rates = {"en": 0.4, "zh": 2.3}
    d = load(spark, sf_dir, "documents").select("doc_id", "lang").filter(
        F.col("lang").isin(*rates)
    )

    def bucket(k):
        return int(hashlib.md5(f"{k}:mix".encode()).hexdigest()[:8], 16) % 10_000

    got = {}
    for r in hash_oversample(d, rates, strat_col="lang", key_col="doc_id").collect():
        got.setdefault(r.doc_id, []).append(r.copy_id)
    want = {}
    for row in d.collect():
        rate = rates[row.lang]
        n = int(rate) + (1 if bucket(row.doc_id) < round((rate - int(rate)) * 10_000) else 0)
        if n >= 1:
            want[row.doc_id] = list(range(1, n + 1))
    assert {k: sorted(v) for k, v in got.items()} == want


def test_sampling_null_keys_never_selected(spark):
    """Null sample keys have no deterministic draw: the rate and
    oversample legs must drop them (null-rejecting comparisons) and
    the quota leg must rank them LAST, never letting a null-keyed row
    shadow a real one at rank 1."""
    from etfconstituentextractor_spark.operators.sampling import (
        hash_oversample,
        hash_rate_sample,
        stratified_quota_sample,
    )

    rows = [(None, "x"), (1, "x"), (2, "x"), (None, "x")]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")

    assert (
        hash_rate_sample(df, {"x": 1.0}, strat_col="lang", key_col="doc_id").count()
        == 2
    )
    assert (
        hash_oversample(df, {"x": 2.0}, strat_col="lang", key_col="doc_id").count()
        == 4
    )
    q = stratified_quota_sample(df, strat_col="lang", key_col="doc_id", k=2)
    assert sorted(r.doc_id for r in q.collect()) == [1, 2]


def test_unpivot_roundtrips_pivot(spark, sf_dir):
    """melt/unpivot (the reshape inverse of q37's pivot): unpivoting
    the pivoted frame must reproduce the plain long-form aggregate
    exactly — wide<->long is lossless for a complete value list."""
    from etfconstituentextractor_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    long_again = wide.unpivot(
        ids=["l_returnflag"],
        values=["O", "F"],
        variableColumnName="l_linestatus",
        valueColumnName="qty",
    ).filter(F.col("qty").isNotNull())
    got = {(r.l_returnflag, r.l_linestatus): r.qty for r in long_again.collect()}
    want = {
        (r.l_returnflag, r.l_linestatus): r.qty
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
        .collect()
    }
    assert got == want


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on a growing dataset directory: old files lack
    a column newer files carry. mergeSchema=true must union the
    schemas (nulls for the old files); the default read keeps working
    on whichever footer it samples."""
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    new = spark.createDataFrame(
        [(3, "c", 1.5), (4, "d", 2.5)], "id bigint, name string, score double"
    )
    path = str(tmp_path / "evolving")
    old.write.parquet(path + "/batch=0")
    new.write.parquet(path + "/batch=1")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score", "batch"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[3].score == 1.5
    assert merged.count() == 4


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """The backfill pattern at 100 TB: re-running ONE day's pipeline
    must replace exactly that day's partition of the sink and leave
    every other partition byte-untouched — partitionOverwriteMode=
    dynamic scoped to the write (STATIC overwrite, the default, would
    silently drop the whole table down to the day being backfilled)."""
    path = str(tmp_path / "daily")
    full = spark.createDataFrame(
        [("2026-08-01", 1, 10.0), ("2026-08-01", 2, 20.0), ("2026-08-02", 3, 30.0)],
        "day string, id bigint, v double",
    )
    full.write.partitionBy("day").parquet(path)

    # corrected re-run of 2026-08-01 only
    backfill = spark.createDataFrame(
        [("2026-08-01", 1, 11.0), ("2026-08-01", 9, 99.0)],
        "day string, id bigint, v double",
    )
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        backfill.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    # partition-column type inference reads `day` back as DateType —
    # compare on the ISO string
    got = {(str(r.day), r.id): r.v for r in spark.read.parquet(path).collect()}
    assert got == {
        ("2026-08-01", 1): 11.0,  # replaced
        ("2026-08-01", 9): 99.0,  # replaced
        ("2026-08-02", 3): 30.0,  # untouched by the backfill
    }


def test_pack_sequences_matches_python(spark, sf_dir):
    """Sequence packing must equal a sequential Python fill in the
    same deterministic (md5 bucket, key) order: bin = floor(start
    offset / budget), oversized docs own their bins, totals preserved."""
    import hashlib

    from etfconstituentextractor_spark.operators.packing import pack_sequences
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr("size(split(text, ' '))").alias("n_tokens")
    )
    budget = 256
    packed = pack_sequences(d, budget, strat_col="lang")
    got = {r.doc_id: (r.pack_order, r.start_offset, r.bin_id) for r in packed.collect()}

    def bucket(k):
        return int(hashlib.md5(f"{k}:pack".encode()).hexdigest()[:8], 16) % 10_000

    rows = d.collect()
    want = {}
    for lang in {r.lang for r in rows}:
        members = sorted(
            (r for r in rows if r.lang == lang), key=lambda r: (bucket(r.doc_id), r.doc_id)
        )
        off = 0
        for i, r in enumerate(members):
            want[r.doc_id] = (i + 1, off, off // budget)
            off += r.n_tokens
    assert got == want

    # summary: token totals preserved; interior bins start on budget
    # multiples is NOT required (bins cut by document boundaries), but
    # every bin's start_offset must be inside [bin_id*budget, +budget)
    bins = packed.groupBy("lang", "bin_id").agg(F.min("start_offset").alias("bin_start"))
    for r in bins.collect():
        assert r.bin_id * budget <= r.bin_start < (r.bin_id + 1) * budget
    assert packed.agg(F.sum("n_tokens")).first()[0] == d.agg(F.sum("n_tokens")).first()[0]


def test_pack_sequences_oversized_doc_owns_bins(spark):
    from etfconstituentextractor_spark.operators.packing import pack_sequences

    d = spark.createDataFrame(
        [(1, 10), (2, 500), (3, 10), (4, 10)], "doc_id bigint, n_tokens bigint"
    )
    packed = {r.doc_id: r for r in pack_sequences(d, 100).collect()}
    # the 500-token doc spans 5 budgets; whoever starts after it must
    # land in a strictly later bin
    big = packed[2]
    after = [r for r in packed.values() if r.start_offset > big.start_offset]
    for r in after:
        assert r.bin_id > big.bin_id


def test_snapshot_diff_micro(spark):
    """CDC diff: inserted/deleted/updated classified per key, unchanged
    rows omitted, null payloads distinguished from sentinel lookalikes."""
    from etfconstituentextractor_spark.operators.snapshot_diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, None, 4.0)],
        "id bigint, name string, score double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "CHANGED", 3.0), (4, None, 4.0), (5, "e", 5.0)],
        "id bigint, name string, score double",
    )
    got = {r.id: r.change for r in snapshot_diff(old, new, keys=["id"]).collect()}
    assert got == {1: "deleted", 3: "updated", 5: "inserted"}

    # restricting compare_cols hides changes outside them
    got2 = {
        r.id: r.change
        for r in snapshot_diff(old, new, keys=["id"], compare_cols=["score"]).collect()
    }
    assert got2 == {1: "deleted", 5: "inserted"}


def test_snapshot_diff_on_corpus_refresh(spark, sf_dir):
    """A simulated corpus refresh over documents: drop some ids, edit
    some texts, add new ids — the diff must be exactly the planted
    delta and nothing else (unchanged majority omitted)."""
    from pyspark.sql import Row

    from etfconstituentextractor_spark.operators.snapshot_diff import snapshot_diff
    from etfconstituentextractor_spark.sources.tables import load

    old = load(spark, sf_dir, "documents").select("doc_id", "text")
    edited = old.withColumn(
        "text",
        F.when(F.col("doc_id") % 97 == 0, F.concat(F.col("text"), F.lit(" edited"))).otherwise(
            F.col("text")
        ),
    ).filter(F.col("doc_id") % 89 != 0)
    added = spark.createDataFrame([Row(doc_id=10**9, text="brand new doc")])
    new = edited.unionByName(added)

    diff = snapshot_diff(old, new, keys=["doc_id"]).collect()
    by_change = {}
    for r in diff:
        by_change.setdefault(r.change, set()).add(r.doc_id)

    ids = {r.doc_id for r in old.collect()}
    assert by_change.get("deleted", set()) == {i for i in ids if i % 89 == 0}
    assert by_change.get("updated", set()) == {
        i for i in ids if i % 97 == 0 and i % 89 != 0
    }
    assert by_change.get("inserted", set()) == {10**9}


def test_parse_filing_document_never_raises_on_garbage():
    """Robustness fuzz for the document parser (the engine's R15
    error-column contract): arbitrary tag soup must come back as a
    (date, rows, err) triple, never an exception."""
    import random
    import string

    from etfconstituentextractor_spark.operators.documents import parse_filing_document

    rng = random.Random(42)
    frags = [
        "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>", "<h1>", "</h1>",
        "<h4>FORM NPORT-P</h4>", "Portfolio investment", "Reporting date",
        "Name of Issuer", "<", ">", "&amp;", "<!--", "--!>", "<x y=",
    ]
    for _ in range(200):
        n = rng.randint(0, 12)
        doc = "".join(
            rng.choice(frags)
            if rng.random() < 0.7
            else "".join(rng.choices(string.printable, k=rng.randint(0, 8)))
            for _ in range(n)
        )
        date, rows, err = parse_filing_document(doc)
        assert isinstance(rows, list)
        assert err is None or isinstance(err, str)


def test_token_budget_sample(spark):
    """Budget-capped mixture: per stratum, docs are taken in md5-hash
    order until the token budget fills; the boundary doc may overflow
    by its own length; unknown strata contribute nothing; null keys
    never select. Checked against an independent Python walk."""
    import hashlib

    from etfconstituentextractor_spark.operators.sampling import (
        BUCKETS,
        token_budget_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else ("zh" if i % 3 == 0 else "xx"), 10 + i % 7)
            for i in range(40)] + [(None, "en", 5)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_tokens bigint")
    budgets = {"en": 60, "zh": 25}
    got = sorted(
        r.doc_id
        for r in token_budget_sample(
            df, budgets, strat_col="lang", tokens_col="n_tokens", key_col="doc_id"
        ).collect()
    )

    def bucket(k):
        return int(hashlib.md5(f"{k}:mix".encode()).hexdigest()[:8], 16) % BUCKETS

    want = []
    for lang, budget in budgets.items():
        members = sorted(
            ((bucket(i), i, t) for i, lg, t in rows if lg == lang and i is not None),
        )
        cum = 0
        for _, i, t in members:
            if cum < budget:
                want.append(i)
            cum += t
    assert got == sorted(want)
    # boundary overflow is bounded: total kept tokens < budget + max doc
    kept = token_budget_sample(
        df, budgets, strat_col="lang", tokens_col="n_tokens", key_col="doc_id"
    ).collect()
    for lang, budget in budgets.items():
        tot = sum(r.n_tokens for r in kept if r.lang == lang)
        assert tot < budget + 17  # max n_tokens is 16


def test_simhash_pairs_complete_vs_brute_force(spark, sf_dir):
    """Banded simhash blocking must find EVERY pair within max_hamming
    (pigeonhole: <= n_bands-1 differing bits leave one band intact),
    each exactly once, with the exact hamming distance — checked
    against brute-force pairwise comparison of the same fingerprints
    on real corpus documents."""
    from etfconstituentextractor_spark.operators.text import simhash_bits, simhash_pairs
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select("doc_id", "text").limit(120)
    fps = {
        r.doc_id: r.fp
        for r in d.select(
            "doc_id", simhash_bits("split(text, ' ')").alias("fp")
        ).collect()
    }
    want = {}
    ids = sorted(fps)
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            h = sum(1 for x, y in zip(fps[da], fps[db]) if x != y)
            if h <= 3:
                want[(da, db)] = h
    got_rows = simhash_pairs(d, max_hamming=3).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in got_rows}
    assert len(got_rows) == len(got)  # first-band dedup: no double emissions
    assert got == want
    assert want  # fixture sanity: some near pairs exist


def test_simhash_pairs_rejects_incomplete_blocking(spark):
    import pytest
    from etfconstituentextractor_spark.operators.text import simhash_pairs

    df = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="complete"):
        simhash_pairs(df, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="divide"):
        simhash_pairs(df, max_hamming=2, n_bands=5)


def test_simhash_pairs_plan_is_python_free(spark, sf_dir):
    from etfconstituentextractor_spark.operators.text import simhash_pairs
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = simhash_pairs(d)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def _temperature_rates(spark, counts, alpha, keep_fraction=1.0):
    from etfconstituentextractor_spark.operators.sampling import temperature_thresholds

    frame = spark.createDataFrame(list(counts.items()), "lang string, n bigint")
    out = temperature_thresholds(
        frame, strat_col="lang", alpha=alpha, keep_fraction=keep_fraction
    )
    return {r.lang: r.rate for r in out.collect()}


def test_temperature_rates_properties(spark):
    """alpha=1 keeps natural proportions; alpha=0 equalizes strata;
    the kept-volume budget holds; scarce strata can exceed rate 1."""
    counts = {"en": 8000, "zh": 1500, "sw": 500}
    natural = _temperature_rates(spark, counts, alpha=1.0, keep_fraction=0.5)
    assert all(abs(r - 0.5) < 1e-12 for r in natural.values())

    flat = _temperature_rates(spark, counts, alpha=0.0, keep_fraction=0.3)
    kept = {s: flat[s] * counts[s] for s in counts}
    assert max(kept.values()) - min(kept.values()) < 1e-6  # equal share
    assert abs(sum(kept.values()) - 0.3 * 10000) < 1e-6

    mid = _temperature_rates(spark, counts, alpha=0.3, keep_fraction=1.0)
    assert mid["sw"] > 1.0 > mid["en"]  # scarce oversampled, dominant cut
    assert abs(sum(mid[s] * counts[s] for s in counts) - 10000) < 1e-6

    assert _temperature_rates(spark, {}, 0.3) == {}
    assert _temperature_rates(spark, {"a": 0}, 0.3) == {"a": 0.0}


def test_temperature_rates_drive_the_mixture(spark, sf_dir):
    """Composition: per-lang counts -> temperature rates -> the
    deterministic mixture legs. Kept share per stratum approaches
    count**alpha proportions (hash-Bernoulli tolerance)."""
    from etfconstituentextractor_spark.operators.sampling import hash_rate_sample
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    rates = _temperature_rates(spark, counts, alpha=0.0, keep_fraction=0.4)
    capped = {s: min(1.0, r) for s, r in rates.items()}
    kept = hash_rate_sample(d, capped, strat_col="lang", key_col="doc_id")
    got = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # alpha=0: every stratum targets the same kept count (or its whole
    # size when rate capped at 1); Bernoulli noise stays within ~35%
    target = 0.4 * sum(counts.values()) / len(counts)
    for s in counts:
        want = min(counts[s], target)
        assert abs(got.get(s, 0) - want) <= max(8.0, 0.35 * want), (s, got.get(s), want)


def test_simhash_64bit_cross_engine_and_banded(spark, sf_dir):
    """64-bit fingerprints (second salted md5 for digits 33-64): both
    engines build identical bitstrings, and banded pair generation
    stays pigeonhole-complete at hamming<=3 over 4 x 16-bit bands —
    the production-scale configuration (65536 buckets per band)."""
    import duckdb

    from etfconstituentextractor_spark.operators.text import (
        simhash_bits,
        simhash_pairs,
        sql_simhash_bits,
        sql_tokens,
    )
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select("doc_id", "text").limit(80)
    got = {
        r.doc_id: r.fp
        for r in d.select("doc_id", simhash_bits("split(text, ' ')", 64).alias("fp")).collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, {sql_simhash_bits(sql_tokens(), 64)} AS fp "
        f"FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id IN ({', '.join(str(k) for k in got)})"
    ).fetchall()
    want = {k: v for k, v in rows}
    assert got == want
    assert all(len(v) == 64 for v in got.values())

    # banded completeness at the production shape
    fps = got
    ids = sorted(fps)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sum(1 for x, y in zip(fps[a], fps[b]) if x != y) <= 3
    }
    pairs = simhash_pairs(d, max_hamming=3, n_bits=64, n_bands=4)
    got_pairs = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got_pairs == brute


def test_kmv_sketch_accuracy_and_exact_branch(spark):
    """KMV distinct sketch (operators/sketch.py): groups under k get
    the EXACT count (the sketch holds every hash); groups over k
    estimate within the sketch's expected relative error
    (~1/sqrt(k-1), asserted at 3x slack); k < 2 is rejected."""
    import pytest as _pytest

    from etfconstituentextractor_spark.operators.sketch import kmv_distinct

    rows = [("small", f"s{i}") for i in range(10)]
    rows += [("big", f"b{i}") for i in range(2000)]
    rows += [("big", f"b{i}") for i in range(500)]  # duplicates
    df = spark.createDataFrame(rows, "grp string, v string")
    got = {r.grp: r.kmv_est for r in kmv_distinct(df, ["grp"], "v", k=64).collect()}
    assert got["small"] == 10.0  # exact branch
    assert abs(got["big"] - 2000) / 2000 < 3 / (63**0.5), got["big"]
    with _pytest.raises(ValueError):
        kmv_distinct(df, ["grp"], "v", k=1)


def test_kmv_sketch_prunes_map_side(spark):
    """The k-smallest-per-group window must compile with a PARTIAL
    WindowGroupLimit below the exchange: each map task keeps its local
    k smallest hashes, so the group shuffle carries <= k rows per task
    per group — the property that keeps KMV viable when a group's
    distinct count is billions."""
    from etfconstituentextractor_spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(100)], "grp string, v string"
    )
    plan = (
        kmv_distinct(df, ["grp"], "v", k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan[plan.find("WindowGroupLimit") :], plan[:1500]


def test_weighted_reservoir_matches_python_oracle(spark):
    """Efraimidis-Spirakis weighted sampling vs a from-scratch hashlib
    + math.log replay of the key construction (rounded ln before the
    exact division), plus the monotonicity this sampler exists for:
    weighting by length must raise the selected rows' mean weight
    above uniform selection's."""
    import hashlib
    import math

    from etfconstituentextractor_spark.operators.sampling import (
        _WES_DENOM,
        weighted_reservoir_sample,
    )

    rows = [(i, "s", (i % 50) + 1) for i in range(300)]  # weights 1..50
    rows += [(1000, "s", None), (1001, "s", 0)]  # no valid draw
    df = spark.createDataFrame(rows, "doc_id bigint, grp string, w bigint")
    k = 40
    got = [
        r.doc_id
        for r in weighted_reservoir_sample(
            df, strat_col="grp", key_col="doc_id", weight_col="w", k=k
        )
        .orderBy("rn")
        .collect()
    ]

    def es_key(doc_id, w):
        h = hashlib.md5(f"{doc_id}:wes".encode()).hexdigest()
        u = (int(h[:13], 16) + 1) / _WES_DENOM
        return round(math.log(u), 6) / w

    want = sorted(
        (i for i, _g, w in rows if w), key=lambda i: (-es_key(i, (i % 50) + 1), i)
    )[:k]
    assert got == want
    sel_mean = sum((i % 50) + 1 for i in got) / k
    pop_mean = sum((i % 50) + 1 for i, _g, w in rows if w) / 300
    assert sel_mean > pop_mean * 1.15, (sel_mean, pop_mean)


def test_kmv_sketch_ignores_nulls(spark):
    """A NULL value must never consume a sketch slot: md5(NULL) is a
    NULL hash, and the engines disagree on where NULL sorts (Spark
    nulls-first vs DuckDB nulls-last), so an unfiltered NULL would
    skew __n_h in one engine only. Distinct-count semantics ignore
    NULL anyway — the estimate must equal the null-free input's."""
    from etfconstituentextractor_spark.operators.sketch import kmv_distinct

    rows = [("g", f"v{i}") for i in range(10)]
    clean = spark.createDataFrame(rows, "grp string, v string")
    dirty = spark.createDataFrame(
        rows + [("g", None), ("g", None), ("only_null", None)],
        "grp string, v string",
    )
    got_clean = {r.grp: r.kmv_est for r in kmv_distinct(clean, ["grp"], "v", k=4).collect()}
    got_dirty = {r.grp: r.kmv_est for r in kmv_distinct(dirty, ["grp"], "v", k=4).collect()}
    assert got_clean == got_dirty  # nulls changed nothing
    assert "only_null" not in got_dirty  # all-null group has no estimate


def test_epoch_shard_shuffle(spark):
    """Sharded epoch shuffle: shard/rank/offset replay a Python walk
    of the identical md5 construction; a different salt is a
    different epoch ORDER over the same shard populations' union; the
    operator rejects colliding input columns."""
    import hashlib

    import pytest as _pytest

    from etfconstituentextractor_spark.operators.sampling import epoch_shard_shuffle

    rows = [(i, 10 + i % 7) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    got = {
        r.doc_id: (r.shard, r.shard_rank, r.start_offset)
        for r in epoch_shard_shuffle(df, "doc_id", "n_tokens", n_shards=4).collect()
    }

    def h(k, salt):
        return int(hashlib.md5(f"{k}:{salt}".encode()).hexdigest()[:8], 16)

    want = {}
    for shard in range(4):
        members = sorted(
            (h(i, "epoch0"), i, t) for i, t in rows if h(i, "epoch0") % 4 == shard
        )
        cum = 0
        for rank, (_, i, t) in enumerate(members, start=1):
            want[i] = (shard, rank, cum)
            cum += t
    assert got == want

    other = {
        r.doc_id: (r.shard, r.shard_rank)
        for r in epoch_shard_shuffle(
            df, "doc_id", "n_tokens", n_shards=4, salt="epoch1"
        ).collect()
    }
    assert other != {k: v[:2] for k, v in got.items()}  # new epoch, new order
    assert set(other) == set(got)  # same corpus

    clash = spark.createDataFrame([(1, 2, 3)], "doc_id int, n_tokens int, shard int")
    with _pytest.raises(ValueError, match="shard"):
        epoch_shard_shuffle(clash, "doc_id", "n_tokens")
    with _pytest.raises(ValueError, match="n_shards"):
        epoch_shard_shuffle(df, "doc_id", "n_tokens", n_shards=0)

    # a quote-bearing salt is just data, not SQL (ADVICE r6) — the
    # python replay of the same md5 construction still matches
    qsalt = "ep'--\";drop"
    got_q = {
        r.doc_id: r.shard
        for r in epoch_shard_shuffle(
            df, "doc_id", "n_tokens", n_shards=4, salt=qsalt
        ).collect()
    }
    assert got_q == {i: h(i, qsalt) % 4 for i, _ in rows}

    # NULL keys raise instead of silently landing in no shard
    withnull = spark.createDataFrame(
        [("a", 5), (None, 7)], "doc_id string, n_tokens bigint"
    )
    with _pytest.raises(Exception, match="NULL in key column"):
        epoch_shard_shuffle(withnull, "doc_id", "n_tokens").collect()


def test_samplers_reject_reserved_columns(spark):
    """Every sampler materializes internal/output columns via
    withColumn, which would silently OVERWRITE a caller column of the
    same name — so colliding inputs must be rejected up front."""
    import pytest as _pytest

    from etfconstituentextractor_spark.operators.sampling import (
        hash_oversample,
        hash_rate_sample,
        stratified_quota_sample,
        token_budget_sample,
        weighted_reservoir_sample,
    )

    df = spark.createDataFrame(
        [("a", 1, 10, 3, "x")], "lang string, doc_id int, n int, rn int, es_key string"
    )
    with _pytest.raises(ValueError, match="rn"):
        stratified_quota_sample(df, strat_col="lang", key_col="doc_id", k=1)
    with _pytest.raises(ValueError, match="es_key"):
        weighted_reservoir_sample(
            df, strat_col="lang", key_col="doc_id", weight_col="n", k=1
        )
    bucket_df = df.withColumnRenamed("es_key", "bucket")
    with _pytest.raises(ValueError, match="bucket"):
        hash_rate_sample(bucket_df, {"a": 1.0}, strat_col="lang", key_col="doc_id")
    with _pytest.raises(ValueError, match="bucket"):
        hash_oversample(bucket_df, {"a": 1.0}, strat_col="lang", key_col="doc_id")
    cum_df = df.withColumnRenamed("es_key", "cum_before")
    with _pytest.raises(ValueError, match="cum_before"):
        token_budget_sample(
            cum_df, {"a": 100}, strat_col="lang", tokens_col="n", key_col="doc_id"
        )


def test_repeated_ngram_stats_hand_computed(spark):
    """Substring-span dedup (operators/substring_dedup.py) on a
    micro corpus with known repeats: shingle width 3, docs 1 and 2
    share a verbatim 4-token run ("a b c d" -> shingles "a b c",
    "b c d" at positions 0,1), doc 3 repeats its own opening 3-gram
    internally, doc 4 is all-unique, doc 5 is too short to shingle.
    Coverage is the union of [pos, pos+k): overlapping shingles at
    pos 0,1 cover 4 tokens, not 6."""
    from etfconstituentextractor_spark.operators.substring_dedup import (
        repeated_ngram_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z"),
            (2, "a b c d p q r"),
            (3, "m n o filler1 filler2 m n o tail"),
            (4, "u v w only once here"),
            (5, "too short"),
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.n_dup_shingles, r.dup_covered_tokens)
        for r in repeated_ngram_stats(docs, k=3).collect()
    }
    # docs 1,2: shingles "a b c"(0) and "b c d"(1) each occur twice
    # corpus-wide -> 2 dup shingles, covering tokens [0,3)+[1,4) = 4
    assert got[1] == (2, 4)
    assert got[2] == (2, 4)
    # doc 3: "m n o" occurs at pos 0 and 5 -> disjoint spans, 3+3
    assert got[3] == (2, 6)
    # docs 4, 5: no duplicated shingles -> no row (left-join contract)
    assert 4 not in got and 5 not in got

    import pytest as _pytest

    with _pytest.raises(ValueError):
        repeated_ngram_stats(docs, k=1)


def test_lsh_incremental_matches_full_rebuild_delta_slice(spark, sf_dir):
    """q62's incremental leg is exact, not approximate, w.r.t. the LSH
    construction: probing delta bands against the standing index must
    find EXACTLY the delta-involved pairs that a full from-scratch
    rebuild of the refreshed corpus finds (base-base pairs are the
    only thing it skips), and its plan must broadcast the delta band
    frame."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.plans.llm_dedup import (
        _INC_SHIFT,
        lsh_incremental_pairs,
        lsh_pairs,
    )
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter((F.col("doc_id") % 17 != 0) & (F.col("doc_id") % 13 != 0))
    delta = (
        d.filter((F.col("doc_id") % 17 != 0) & (F.col("doc_id") % 13 == 0))
        .select("doc_id", F.concat(F.col("text"), F.lit(" (rev2)")).alias("text"))
        .unionByName(
            d.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + F.lit(_INC_SHIFT)).alias("doc_id"),
                F.concat(F.lit("fresh "), F.col("text")).alias("text"),
            )
        )
    )
    inc = {
        (r["doc_a"], r["doc_b"]) for r in lsh_incremental_pairs(base, delta).collect()
    }
    delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
    full_v2 = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_pairs(base.unionByName(delta)).collect()
    }
    want = {p for p in full_v2 if p[0] in delta_ids or p[1] in delta_ids}
    assert inc == want
    assert inc, "refresh must introduce at least one near-dup pair"
    # every incremental pair involves a delta doc
    assert all(a in delta_ids or b in delta_ids for a, b in inc)

    plan = (
        lsh_incremental_pairs(base, delta)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_rrf_fuse(spark):
    """Reciprocal-rank fusion replays a pure-Python walk: docs in both
    lists sum both reciprocals, single-list docs contribute one, ranks
    re-break ties on doc_id; degenerate inputs raise."""
    import pytest as _pytest

    from etfconstituentextractor_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)], "query_id string, doc_id int, rn int"
    )
    b = spark.createDataFrame(
        [("q", 3, 1), ("q", 4, 2), ("q", 1, 3)], "query_id string, doc_id int, rn int"
    )
    got = {
        (r.query_id, r.doc_id): (r.score, r.rn)
        for r in rrf_fuse([a, b], k_rrf=60, top_k=10).collect()
    }
    want_scores = {
        1: round(1 / 61 + 1 / 63, 9),
        2: round(1 / 62, 9),
        3: round(1 / 63 + 1 / 61, 9),
        4: round(1 / 62, 9),
    }
    ranked = sorted(want_scores.items(), key=lambda kv: (-kv[1], kv[0]))
    want = {
        ("q", d): (s, i + 1) for i, (d, s) in enumerate(ranked)
    }
    assert got == want
    # docs 1 and 3 tie exactly (same reciprocal pair) -> doc_id breaks it
    assert got[("q", 1)][1] == 1 and got[("q", 3)][1] == 2
    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with _pytest.raises(ValueError, match="k_rrf"):
        rrf_fuse([a], k_rrf=0)


def test_intra_doc_repetition(spark):
    """Gopher-rule repetition stats replay a pure-Python walk and the
    DuckDB SQL twin on hand-built docs covering: no repetition,
    adjacent self-overlap, disjoint repeats, and short docs."""
    import duckdb

    from etfconstituentextractor_spark.operators.substring_dedup import (
        intra_doc_repetition,
        sql_intra_doc_repetition,
    )

    docs = [
        (1, "a b c d e f"),                  # no repeats
        (2, "a b a b a b"),                  # 3-grams all repeat; full coverage
        (3, "x y z q x y z w x y z"),        # 'x y z' repeats disjointly
        (4, "t u"),                          # too short for 3-grams
        (5, "p q p q r r p q"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.top3_cnt, r.dup3_cov)
        for r in intra_doc_repetition(df).collect()
    }

    def py(text, n=3):
        tk = [t for t in text.split(" ") if t]
        grams = [tuple(tk[i : i + n]) for i in range(len(tk) - n + 1)]
        top = max((grams.count(g) for g in set(grams)), default=None)
        flagged = [i for i, g in enumerate(grams) if grams.count(g) >= 2]
        covered = set()
        for i in flagged:
            covered.update(range(i, i + n))
        return top, len(covered)

    want = {}
    for did, text in docs:
        top, cov = py(text)
        if top is not None:
            want[did] = (top, cov)
    assert got == want
    assert 4 not in got  # no 3-gram -> no row (left-join contract)
    assert got[2] == (2, 6)  # 'a b a'/'b a b' each x2; every position covered

    con = duckdb.connect()
    con.register("documents_py", __import__("pandas").DataFrame(docs, columns=["doc_id", "text"]))
    oracle = {
        (r[0]): (r[1], r[2])
        for r in con.execute(
            sql_intra_doc_repetition("(SELECT doc_id, text FROM documents_py)")
        ).fetchall()
    }
    assert oracle == want
