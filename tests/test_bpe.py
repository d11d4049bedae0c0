"""BPE encoding (operators/bpe.py) vs a from-scratch pure-Python
oracle; merge lists come from the oracle's trainer, which replays the
(count desc, pair lex) tiebreak."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.bpe import END, encode_corpus, symbolize

CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
]


def py_bpe(word_freqs: dict[str, int], n_merges: int):
    """Classic dictionary BPE (Sennrich et al.), deterministic ties."""
    vocab = {w: list(w) + [END] for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += word_freqs[w]
        if not counts:
            break
        pair = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(pair)
        a, b = pair
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_symbolize_chars_plus_end_marker(spark):
    words = spark.createDataFrame([("low",)], "word string")
    assert symbolize(words).first().syms == ["l", "o", "w", END]


def test_overlapping_pairs_merge_greedy_left_to_right(spark):
    # 'aaaa' with pair (a,a): greedy non-overlapping -> [aa, aa, </w>]
    df = spark.createDataFrame([(0, "aaaa")], "doc_id long, text string")
    assert encode_corpus(df, [("a", "a")]).first().pieces == ["aa", "aa", END]


# ---------------------------------------------------------------------------
# encode_corpus — the dictionary-path inference encode
# ---------------------------------------------------------------------------
def py_encode_word(word: str, merges) -> list[str]:
    syms = list(word) + [END]
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@pytest.fixture(scope="module")
def iddocs(spark):
    return spark.createDataFrame(list(enumerate(CORPUS)), "doc_id long, text string")


def test_encode_corpus_matches_python_oracle(spark, iddocs):
    freqs = dict(Counter(w for t in CORPUS for w in t.split(" ")))
    merges, _ = py_bpe(freqs, 8)
    got = {r.doc_id: (r.pieces, r.n_pieces) for r in encode_corpus(iddocs, merges).collect()}
    for i, t in enumerate(CORPUS):
        want = [p for w in t.split(" ") if w for p in py_encode_word(w, merges)]
        assert got[i] == (want, len(want)), i


def test_encode_corpus_drops_wordless_docs_and_guards_names(spark):
    df = spark.createDataFrame([(0, "a b"), (1, "")], "doc_id long, text string")
    out = encode_corpus(df, [("a", END)]).collect()
    assert {r.doc_id for r in out} == {0}
    # input columns named like the internal word/pos/syms columns are
    # never read, so they cannot collide
    clash = df.withColumn("pos", F.lit(7)).withColumn("word", F.lit("x"))
    assert encode_corpus(clash, [("a", END)]).collect() == out


def test_encode_corpus_plan_broadcast_join_single_doc_shuffle(spark, iddocs):
    """Scale contract: the corpus-side plan is posexplode → broadcast
    dictionary join → ONE doc-key shuffle; zero Python evaluation."""
    merges, _ = py_bpe(dict(Counter(" ".join(CORPUS).split())), 4)
    plan = (
        encode_corpus(iddocs, merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
