"""Unigram-LM tokenizer invariants (operators/unigram.py).

The oracle-parity suite pins the train and encode queries value-level
against DuckDB; these tests pin the kernel itself: the exact-integer
Viterbi equals brute-force parse enumeration under the documented
criterion, minimality and saturation behave as specified, the EM
trainer matches a pure-Python mirror, and encode round-trips.
"""

from __future__ import annotations

import random
from itertools import product

import pytest

from hapiy_etl_spark.operators.unigram import (
    SCORE_CAP,
    unigram_segment,
    unigram_train,
    viterbi_segment,
)

SF = "/root/testdata/sf0.001"


def _enumerate_parses(word: str, vocab: dict[str, int], l_max: int):
    """All parses of word into vocab pieces, depth-first."""
    out = []

    def rec(pos, path):
        if pos == len(word):
            out.append(tuple(path))
            return
        for le in range(1, min(l_max, len(word) - pos) + 1):
            piece = word[pos : pos + le]
            if piece in vocab:
                path.append(piece)
                rec(pos + le, path)
                path.pop()

    rec(0, [])
    return out


def _best_by_criterion(parses, vocab):
    def key(p):
        prod = 1
        for piece in p:
            prod *= min(vocab[piece], SCORE_CAP)
        return (len(p), -prod, p)

    return min(parses, key=key)


def test_viterbi_matches_enumeration_randomized():
    rng = random.Random(42)
    alphabet = "abc"
    for _ in range(300):
        word = "".join(
            rng.choice(alphabet) for _ in range(rng.randint(1, 9))
        )
        vocab = {c: rng.randint(1, 50) for c in alphabet}
        for le in (2, 3, 4):
            for tup in product(alphabet, repeat=le):
                if rng.random() < 0.15:
                    vocab["".join(tup)] = rng.randint(1, 50)
        got = viterbi_segment(word, vocab, 4)
        parses = _enumerate_parses(word, vocab, 4)
        assert got in parses and "".join(got) == word
        assert got == _best_by_criterion(parses, vocab)


def test_viterbi_piece_count_is_minimal():
    vocab = {"a": 1, "b": 1, "ab": 5, "ba": 5, "aba": 2, "bab": 2}
    for word in ("ababab", "aab", "baba", "a", "abababa"):
        got = viterbi_segment(word, vocab, 4)
        min_k = min(len(p) for p in _enumerate_parses(word, vocab, 4))
        assert len(got) == min_k, (word, got)


def test_viterbi_prefers_frequent_pieces_at_equal_length():
    # "abcd" -> ("ab","cd") or ("ab","c","d")... equal-k choices:
    # ("ab","cd") vs ("ab","c","d") -- k decides; plant an equal-k tie:
    vocab = {"ab": 100, "cd": 2, "a": 1, "b": 1, "c": 1, "d": 1, "bc": 100, "d2": 1}
    # parses of "abcd" with k=2: (ab,cd). k=3: (ab,c,d),(a,bc,d)...
    assert viterbi_segment("abcd", vocab, 4) == ("ab", "cd")
    # drop "cd": minimal k is now 3; (a,bc,d) has prod 100 vs (ab,c,d) 100
    # -> lexicographic tie-break picks ("a","bc","d")
    del vocab["cd"]
    assert viterbi_segment("abcd", vocab, 4) == ("a", "bc", "d")


def test_score_cap_saturates_exactly():
    vocab_hot = {"a": 10**9, "b": 3, "ab": 10**12, "ba": 7}
    vocab_cap = {p: min(c, SCORE_CAP) for p, c in vocab_hot.items()}
    for word in ("abab", "aabb", "baba", "abba"):
        assert viterbi_segment(word, vocab_hot, 4) == viterbi_segment(
            word, vocab_cap, 4
        )


def test_viterbi_raises_on_uncoverable_word():
    with pytest.raises(ValueError, match="not coverable"):
        viterbi_segment("xyz", {"x": 1, "y": 1}, 4)


def _python_em(types: dict[str, int], rounds, l_max, seed_n, vocab_n):
    subs: dict[str, int] = {}
    for w, c in types.items():
        for s in range(len(w)):
            for le in range(1, min(l_max, len(w) - s) + 1):
                p = w[s : s + le]
                subs[p] = subs.get(p, 0) + c
    top = sorted(subs.items(), key=lambda pc: (-pc[1], pc[0]))[:seed_n]
    chars = sorted(p for p in subs if len(p) == 1)
    vocab = {p: c for p, c in subs.items() if len(p) == 1}
    vocab.update(dict(top))
    for _ in range(rounds):
        usage: dict[str, int] = {}
        for w, c in types.items():
            for piece in viterbi_segment(w, vocab, l_max):
                usage[piece] = usage.get(piece, 0) + c
        # char-mass conservation: every char of every token occurrence
        # lands in exactly one piece occurrence
        assert sum(cnt * len(p) for p, cnt in usage.items()) == sum(
            c * len(w) for w, c in types.items()
        )
        vocab = {p: c for p, c in usage.items() if len(p) > 1}
        for ch in chars:
            vocab[ch] = usage.get(ch, 1)
    ranked = sorted(vocab.items(), key=lambda pc: (-pc[1], pc[0]))
    kept = [
        (p, c)
        for i, (p, c) in enumerate(ranked)
        if i < vocab_n or len(p) == 1
    ]
    return [(i + 1, p, len(p), c) for i, (p, c) in enumerate(kept)]


def test_train_matches_python_em_mirror(spark):
    types = {
        "spark": 10,
        "sparkle": 4,
        "park": 7,
        "parquet": 3,
        "shuffle": 6,
        "shard": 5,
        "hash": 9,
    }
    df = spark.createDataFrame(
        list(types.items()), "word string, cnt long"
    )
    got = [
        tuple(r)
        for r in unigram_train(
            df, rounds=2, l_max=4, seed_n=20, vocab_n=10
        ).orderBy("rank").collect()
    ]
    want = _python_em(types, 2, 4, 20, 10)
    assert got == want


def test_train_keeps_every_char_and_is_deterministic(spark):
    types = [("banana", 5), ("bandana", 2), ("cabana", 3)]
    df = spark.createDataFrame(types, "word string, cnt long")
    a = unigram_train(df, rounds=2, l_max=3, seed_n=8, vocab_n=4)
    rows_a = [tuple(r) for r in a.orderBy("rank").collect()]
    rows_b = [
        tuple(r)
        for r in unigram_train(df, rounds=2, l_max=3, seed_n=8, vocab_n=4)
        .orderBy("rank")
        .collect()
    ]
    assert rows_a == rows_b
    pieces = {r[1] for r in rows_a}
    assert {"a", "b", "c", "d", "n"} <= pieces


def test_train_checkpoints_rdd_backed_input(spark, monkeypatch):
    # an RDD-backed type table is still an unmaterialized lineage (its
    # RDD re-runs on every scan); unigram_train must checkpoint it like
    # any other input instead of trusting the plan's root node
    types = [("banana", 5), ("bandana", 2), ("cabana", 3)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(types), "word string, cnt long"
    )
    checkpointed = []
    real = type(df).localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    got = unigram_train(df, rounds=2, l_max=3, seed_n=8, vocab_n=4)
    assert any(c is df for c in checkpointed)
    monkeypatch.undo()
    want = unigram_train(
        spark.createDataFrame(types, "word string, cnt long"),
        rounds=2, l_max=3, seed_n=8, vocab_n=4,
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_encode_roundtrips_corpus_words(spark):
    from pyspark.sql import functions as F

    from hapiy_etl_spark.io import load_tables

    docs = load_tables(spark, SF, ("documents",))["documents"]
    types = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = unigram_train(types, rounds=1, l_max=4, seed_n=40, vocab_n=20)
    seg = unigram_segment(types.select("word"), "word", vocab)
    bad = seg.where(
        F.array_join("subwords", "") != F.col("word")
    ).count()
    assert bad == 0


def test_oov_fallback_extends_without_changing_covered_words():
    vocab = {"a": 5, "b": 3, "ab": 9}
    # covered word: identical with the fallback on or off
    assert viterbi_segment("abab", vocab, 4) == viterbi_segment(
        "abab", vocab, 4, unk_count=1
    )
    # word with an unseen char: raises without the fallback,
    # segments through a char piece with it
    with pytest.raises(ValueError, match="not coverable"):
        viterbi_segment("axb", vocab, 4)
    assert viterbi_segment("axb", vocab, 4, unk_count=1) == ("a", "x", "b")


def test_segment_encodes_unseen_alphabet(spark):
    train = spark.createDataFrame(
        [("spark", 5), ("park", 3)], "word string, cnt long"
    )
    vocab = unigram_train(train, rounds=1, l_max=4, seed_n=10, vocab_n=5)
    from pyspark.sql import functions as F

    words = spark.createDataFrame(
        [("spark",), ("quartz!",)], "word string"
    )
    seg = unigram_segment(words, "word", vocab)
    rows = {r["word"]: r["subwords"] for r in seg.collect()}
    assert "".join(rows["spark"]) == "spark"
    assert "".join(rows["quartz!"]) == "quartz!"  # decode identity holds
