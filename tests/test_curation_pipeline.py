"""End-to-end corpus curation (pipeline/curation.py): the composed
quality → exact-dedup → near-dup-group → survivors plan, checked for
its pipeline-level invariants on the real corpus plus a planted
fixture where every verdict is known exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from etfconstituentextractor_spark.pipeline.curation import curate
from etfconstituentextractor_spark.plans.llm_dedup import lsh_pairs
from etfconstituentextractor_spark.sources.tables import load


def test_curate_invariants_on_corpus(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    audited = curate(docs)
    rows = audited.collect()

    # one auditable verdict per input document
    assert len(rows) == docs.count()
    assert {r.verdict for r in rows} <= {"kept", "quality", "exact_dup", "near_dup"}
    kept = [r for r in rows if r.verdict == "kept"]
    assert kept, "pipeline must keep something"

    # no two survivors share content
    hashes = [r.content_hash for r in kept]
    assert len(hashes) == len(set(hashes))

    # no two survivors form a verified near-dup pair
    kept_df = audited.filter(F.col("verdict") == "kept").select("doc_id")
    pairs = lsh_pairs(
        docs.join(kept_df, "doc_id", "left_semi").select("doc_id", "text")
    )
    assert pairs.count() == 0

    # every exact_dup names a smaller-id doc with identical content
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r.content_hash, []).append(r)
    for r in rows:
        if r.verdict == "exact_dup":
            assert any(
                o.doc_id < r.doc_id and o.quality_pass for o in by_hash[r.content_hash]
            )


def test_curate_planted_fixture(spark):
    """Hand-built corpus where each gate fires on a known doc:
    - 1/2 identical quality text -> 2 is exact_dup;
    - 3 near-identical to 1 (one token changed) -> near_dup of 1;
    - 4 too short -> quality;
    - 5 long but stopword-free -> quality;
    - 6 unrelated good text -> kept."""
    base = "the quick brown fox jumps over a lazy dog and the dog is of sound mind " * 3
    near = base.replace("sound", "curious", 1)
    rows = [
        (1, base),
        (2, base),
        (3, near),
        (4, "too short"),
        (5, "lorem ipsum dolor sit amet " * 10),
        (6, "every engine needs a second corpus and this is it with the usual words " * 3),
    ]
    audited = curate(spark.createDataFrame(rows, "doc_id bigint, text string"))
    verdicts = {r.doc_id: r.verdict for r in audited.collect()}
    assert verdicts == {
        1: "kept",
        2: "exact_dup",
        3: "near_dup",
        4: "quality",
        5: "quality",
        6: "kept",
    }


def test_curate_contamination_and_mixture_gates(spark):
    """Full-pipeline fixture with the optional gates on:
    - 6 and 8 are verbatim copies of a benchmark doc -> both
      'contaminated' (precedence beats exact_dup: neither may survive
      as the pair's representative);
    - 7 is clean and unique but its stratum's mix rate is 0.0 ->
      'downsampled';
    - the q60/q62 verdicts from the base fixture are unchanged."""
    base = "the quick brown fox jumps over a lazy dog and the dog is of sound mind " * 3
    near = base.replace("sound", "curious", 1)
    bench = "every engine needs a second corpus and this is it with the usual words " * 3
    rows = [
        (1, base, "y"),
        (2, base, "y"),
        (3, near, "y"),
        (4, "too short", "y"),
        (5, "lorem ipsum dolor sit amet " * 10, "y"),
        (6, bench, "y"),
        (7, "a third corpus of the usual words that is not like the others at all " * 3, "x"),
        (8, bench, "y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    eval_docs = spark.createDataFrame([(100, bench)], "doc_id bigint, text string")
    audited = curate(
        docs,
        eval_docs=eval_docs,
        contaminated_at=3,
        mix_rates={"y": 1.0, "x": 0.0},
        strat_col="lang",
    )
    verdicts = {r.doc_id: r.verdict for r in audited.collect()}
    assert verdicts == {
        1: "kept",
        2: "exact_dup",
        3: "near_dup",
        4: "quality",
        5: "quality",
        6: "contaminated",
        7: "downsampled",
        8: "contaminated",
    }


# ---------------------------------------------------------------------------
# Full-pipeline fuzz: curate() vs a pure-Python reimplementation of
# every stage (hashlib md5 end to end — banded LSH included), a second
# oracle fully independent of both Spark and DuckDB.
# ---------------------------------------------------------------------------
def _py_curate(train, eval_texts, min_tokens, min_stop_ratio, cont_at, rate):
    import hashlib

    from etfconstituentextractor_spark.operators.text import STOPWORDS

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731

    def toks(t):
        return t.split(" ")

    def grams(t, n):
        tk = toks(t)
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    feats = {}
    for doc_id, text in train:
        tk = toks(text)
        stop_hits = sum(1 for w in tk if w in STOPWORDS)
        quality = len(tk) >= min_tokens and stop_hits / len(tk) >= min_stop_ratio
        feats[doc_id] = dict(text=text, quality=quality, chash=md5(text))

    ev_grams = set().union(*(grams(t, 4) for t in eval_texts)) if eval_texts else set()
    for doc_id, f in feats.items():
        f["contaminated"] = (
            f["quality"] and len(grams(f["text"], 4) & ev_grams) >= cont_at
        )
        f["eligible"] = f["quality"] and not f["contaminated"]

    by_hash = {}
    for doc_id, f in feats.items():
        if f["eligible"]:
            by_hash.setdefault(f["chash"], []).append(doc_id)
    for doc_id, f in feats.items():
        f["keeper"] = (not f["eligible"]) or doc_id == min(by_hash[f["chash"]])

    # banded LSH on survivors, mirroring lsh_pairs exactly
    surv = {i: f["text"] for i, f in feats.items() if f["eligible"] and f["keeper"]}
    sigs = {}
    for doc_id, text in surv.items():
        tk = toks(text)
        if len(tk) < 3:
            continue
        sh = [" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)]
        mins = []
        for k in range(12):
            hs = [md5(f"{k // 4}|{s}") for s in sh]
            mins.append(min(h[8 * (k % 4) : 8 * (k % 4) + 8] for h in hs))
        sigs[doc_id] = [f"{b}|{mins[2 * b]}#{mins[2 * b + 1]}" for b in range(6)]
    pairs = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if set(sigs[a]) & set(sigs[b]):
                ga = {" ".join(toks(surv[a])[i : i + 3]) for i in range(len(toks(surv[a])) - 2)}
                gb = {" ".join(toks(surv[b])[i : i + 3]) for i in range(len(toks(surv[b])) - 2)}
                if ga and gb and len(ga & gb) / len(ga | gb) >= 0.5:
                    pairs.add((a, b))

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {n: find(n) for n in parent}

    out = {}
    for doc_id, f in feats.items():
        bucket = int(hashlib.md5(f"{doc_id}:mix".encode()).hexdigest()[:8], 16) % 10_000
        sampled = bucket < int(round(rate * 10_000))
        c = comp.get(doc_id)
        if not f["quality"]:
            v = "quality"
        elif f["contaminated"]:
            v = "contaminated"
        elif not f["keeper"]:
            v = "exact_dup"
        elif c is not None and c != doc_id:
            v = "near_dup"
        elif not sampled:
            v = "downsampled"
        else:
            v = "kept"
        out[doc_id] = v
    return out


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = ["the", "and", "fox", "dog", "run", "big"]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    n_docs=st.integers(2, 7),
    rate=st.sampled_from([0.0, 0.35, 1.0]),
)
def test_curate_matches_python_reference(spark, data, n_docs, rate):
    """Every gate of curate() — quality, contamination, exact dedup,
    banded-LSH near-dup grouping, mixture sampling — must agree with a
    from-scratch Python implementation (hashlib md5 throughout) on
    random corpora with planted copies and near-copies."""
    docs = []
    for i in range(n_docs):
        words = data.draw(
            st.lists(st.sampled_from(_WORDS), min_size=0, max_size=22), label=f"doc{i}"
        )
        docs.append((i, " ".join(words)))
    # planted copies / one-token mutations of earlier docs
    n_copies = data.draw(st.integers(0, 3), label="n_copies")
    for j in range(n_copies):
        src = data.draw(st.integers(0, n_docs - 1), label=f"src{j}")
        text = docs[src][1]
        if data.draw(st.booleans(), label=f"mutate{j}") and text:
            words = text.split(" ")
            pos = data.draw(st.integers(0, len(words) - 1), label=f"pos{j}")
            words[pos] = data.draw(st.sampled_from(_WORDS), label=f"w{j}")
            text = " ".join(words)
        docs.append((100 + j, text))
    eval_texts = [t for i, t in docs if i % 3 == 0 and t]

    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    edf = (
        spark.createDataFrame(
            [(1000 + i, t) for i, t in enumerate(eval_texts)], "doc_id bigint, text string"
        )
        if eval_texts
        else spark.createDataFrame([], "doc_id bigint, text string")
    )
    got = {
        r.doc_id: r.verdict
        for r in curate(
            sdf.withColumn("lang", F.lit("x")),
            min_tokens=5,
            eval_docs=edf,
            contaminated_at=3,
            mix_rates={"x": rate},
            strat_col="lang",
        ).collect()
    }
    want = _py_curate(docs, eval_texts, 5, 0.02, 3, rate)
    assert got == want


def test_corpus_to_training_shards_chain(spark, sf_dir):
    """The full corpus-to-training-data story in one chain: curate ->
    pack_sequences over the kept documents. Every kept document lands
    in exactly one bin of its language shard; bins respect the token
    budget up to one boundary document; nothing dropped or
    duplicated."""
    from etfconstituentextractor_spark.operators.packing import pack_sequences
    from etfconstituentextractor_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    audited = curate(docs)
    kept = audited.filter(F.col("verdict") == "kept").select("doc_id")
    surv = docs.join(kept, "doc_id", "left_semi").select(
        "doc_id", "lang", F.expr("size(split(text, ' '))").alias("n_tokens")
    )
    budget = 512
    packed = pack_sequences(surv, budget, strat_col="lang")

    assert packed.count() == surv.count()  # every survivor packed once
    assert packed.select("doc_id").distinct().count() == surv.count()

    max_doc = surv.agg(F.max("n_tokens")).first()[0]
    bins = packed.groupBy("lang", "bin_id").agg(F.sum("n_tokens").alias("n_tokens"))
    for r in bins.collect():
        # a bin holds at most budget + one boundary document's tokens
        assert r.n_tokens <= budget + max_doc
        assert r.bin_id >= 0


def test_refresh_diff_identifies_changed_verdicts(spark, sf_dir):
    """Incremental operations composition: curate the corpus, curate a
    deterministically refreshed copy, snapshot-diff the two AUDITS on
    (doc_id -> verdict). The diff must (a) flag every deleted doc, (b)
    flag the new docs as inserted, and (c) never flag a doc whose
    verdict is identical in both audits — the CDC contract that lets a
    pipeline reprocess only what a refresh actually changed."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.operators.snapshot_diff import snapshot_diff
    from etfconstituentextractor_spark.pipeline.curation import curate
    from etfconstituentextractor_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    refreshed = docs.filter(F.col("doc_id") % 19 != 0).unionByName(
        docs.filter(F.col("doc_id") % 23 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
        )
    )
    a1 = curate(docs).select("doc_id", "verdict")
    a2 = curate(refreshed).select("doc_id", "verdict")
    delta = snapshot_diff(a1, a2, keys=["doc_id"], compare_cols=["verdict"])
    by_change = {r.doc_id: r.change for r in delta.collect()}

    deleted = {r.doc_id for r in docs.filter(F.col("doc_id") % 19 == 0).collect()}
    inserted = {
        r.doc_id + 1_000_000
        for r in docs.filter(F.col("doc_id") % 23 == 0).collect()
    }
    assert deleted == {k for k, c in by_change.items() if c == "deleted"}
    assert inserted <= {k for k, c in by_change.items() if c == "inserted"}
    # verdict-stable docs are absent from the delta
    v1 = {r.doc_id: r.verdict for r in a1.collect()}
    v2 = {r.doc_id: r.verdict for r in a2.collect()}
    for k, c in by_change.items():
        if c == "updated":
            assert v1[k] != v2[k], k
    for k in set(v1) & set(v2):
        if v1[k] == v2[k]:
            assert k not in by_change, k
