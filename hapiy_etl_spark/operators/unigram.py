"""Unigram-LM subword tokenizer (SentencePiece-style) as bounded EM.

Kudo, "Subword Regularization" (2018) trains a unigram language model
over subword pieces by EM: seed a large candidate vocabulary from
frequent substrings, E-step segment the corpus by Viterbi under the
current piece probabilities, M-step re-estimate probabilities from the
piece usage counts, prune, repeat. This module is that trainer with
one deliberate substitution that makes it value-level verifiable
across engines (the repo's oracle-twin contract) and bit-reproducible
across runs — a property a production corpus pipeline wants anyway,
since the tokenizer defines the training data:

    The float log-probability Viterbi is replaced by an EXACT-INTEGER
    segmentation criterion: among all segmentations of a word into
    vocabulary pieces, prefer (1) the FEWEST pieces, then (2) the
    LARGEST product of saturated piece counts ``min(cnt, SCORE_CAP)``,
    then (3) the lexicographically SMALLEST piece sequence.

(1) is the unigram length prior taken to its limit (every extra piece
multiplies in a probability < 1; the shortest parse is the MAP parse
for any piece probability above ~1/sqrt(vocab mass), which holds for
every piece a pruned vocabulary retains). (2) is the unigram
likelihood restricted to equal-length parses, where the normalizer
``T^k`` cancels and the comparison is a pure integer product. The
``SCORE_CAP`` saturation keeps that product inside 128 bits at ANY
corpus size (k <= word length, cap^k <= 1e4^32 only for absurd words;
for real words k <= ~16 so <= 1e64... DuckDB HUGEINT holds 1.7e38, so
the cap guarantees safety for words up to 9 pieces and the minimal-k
criterion keeps k at ceil(len/l_max) ~ 2-4 in practice). (3) makes
ties deterministic. No floats appear anywhere in training, so the
DuckDB oracle replays seed -> EM x R -> prune EXACTLY — the recursive
CTE enumerates every parse of every word TYPE and picks the same
argmax (tuple order over piece sequences equals byte order over
``chr(31)``-joined paths because the separator sorts below every
word character).

Distributed shape (the ``operators/bpe.py`` posture):

- everything runs at word-TYPE grain — bounded by vocabulary
  (~1e7-1e8 types at 100 TB), never corpus size;
- seed candidate counting is one distributed explode+agg; the seed
  top-N lands via orderBy+limit (TakeOrdered, never a single-reducer
  sort);
- per EM round: the current vocabulary (bounded tokenizer metadata,
  like the BPE merges table) broadcasts into an Arrow ``mapInPandas``
  Viterbi over the type table, and usage counts come back as ONE
  distributed explode+agg, collected at vocabulary grain;
- the final ranked vocabulary builds driver-side from the bounded
  usage table (same precedent as the merges output).

Reference parity: the reference (`git_etl.ts`) has no tokenizer; this
fills the LLM-pipeline surface next to ``operators/bpe.py`` (driver
north star, BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: piece-score saturation: DP scores use ``min(cnt, SCORE_CAP)`` so the
#: exact-integer product comparison stays inside 128 bits at any scale
SCORE_CAP = 10_000

#: path separator for the SQL twin's joined piece sequences — sorts
#: below every printable character, so byte order == tuple order
SEP = "\x1f"


def _better(a: tuple, b: tuple) -> bool:
    """Segmentation preference: fewer pieces, then larger saturated
    product, then lexicographically smaller piece tuple."""
    if a[0] != b[0]:
        return a[0] < b[0]
    if a[1] != b[1]:
        return a[1] > b[1]
    return a[2] < b[2]


def viterbi_segment(
    word: str, vocab: dict[str, int], l_max: int, unk_count: int | None = None
) -> tuple[str, ...]:
    """Best parse of ``word`` into vocabulary pieces under the exact
    criterion. Python ints never overflow; the SQL twin's HUGEINT is
    guarded by SCORE_CAP (module docstring).

    ``unk_count=None`` (training): raises if the word is not coverable
    — cannot happen for trainer vocabularies, where single characters
    are never pruned, so a raise means a broken vocab and must be
    loud. ``unk_count=k`` (encode-time OOV fallback): a single
    character ABSENT from the vocabulary still forms a piece, scored
    ``k`` — the <unk> posture of production tokenizers (Kudo 2018 §3),
    so encoding text whose alphabet exceeds the training corpus
    degrades to char pieces instead of crashing. The fallback STRICTLY
    extends the domain without touching existing results: a char
    absent from a trainer vocabulary cannot occur inside any vocab
    piece (pieces are substrings of training words, whose chars are
    all kept), so a previously-coverable word gains no new parses and
    its argmax is bit-identical with the flag on or off —
    pytest-pinned."""
    n = len(word)
    best: list[tuple | None] = [None] * (n + 1)
    best[0] = (0, 1, ())
    for i in range(n):
        cur = best[i]
        if cur is None:
            continue
        k0, p0, path0 = cur
        for le in range(1, min(l_max, n - i) + 1):
            c = vocab.get(word[i : i + le])
            if c is None:
                if le == 1 and unk_count is not None:
                    c = unk_count
                else:
                    continue
            cand = (
                k0 + 1,
                p0 * min(c, SCORE_CAP),
                path0 + (word[i : i + le],),
            )
            prev = best[i + le]
            if prev is None or _better(cand, prev):
                best[i + le] = cand
    if best[n] is None:
        raise ValueError(f"word {word!r} not coverable by vocabulary")
    return best[n][2]


def _seed_candidates(types: DataFrame, l_max: int) -> DataFrame:
    """(piece, cnt): every substring of length 1..l_max of every word
    type, counted per occurrence POSITION and weighted by the type
    count — one JVM-side explode+agg, no Python."""
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(l_max), F.length("word") - s + 1),
                ),
                lambda le: F.substring(F.col("word"), s, le),
            ),
        )
    )
    return (
        types.select(F.col("cnt"), F.explode(pieces).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _usage_counts(
    types: DataFrame, vocab: dict[str, int], l_max: int
) -> DataFrame:
    """E-step + usage aggregation: broadcast the vocabulary into an
    Arrow Viterbi over the TYPE table, explode the parses, sum type
    counts per piece. One distributed job; result is vocabulary-grain."""
    import pandas as pd

    spark = types.sparkSession
    bc = spark.sparkContext.broadcast(vocab)

    def seg_batches(batches):
        v = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "cnt": pdf["cnt"],
                    "pieces": [
                        list(viterbi_segment(w, v, l_max))
                        for w in pdf["word"]
                    ],
                }
            )

    seg = types.mapInPandas(seg_batches, "cnt long, pieces array<string>")
    return (
        seg.select(F.explode("pieces").alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )


def unigram_train(
    words: DataFrame,
    rounds: int = 2,
    l_max: int = 4,
    seed_n: int = 80,
    vocab_n: int = 40,
) -> DataFrame:
    """Learn a unigram-LM piece vocabulary from a (word, cnt) type
    table. Returns (rank, piece, n_chars, cnt) — the ranked vocabulary
    a tokenizer ships, counts = final-round usage.

    The training chain scans the type table once per round, so it is
    materialized first (eager ``localCheckpoint``); a caller that
    already materialized it (the bake-off's shared tokenization pass)
    calls ``unigram_train_materialized`` directly."""
    return unigram_train_materialized(
        words.localCheckpoint(eager=True), rounds, l_max, seed_n, vocab_n
    )


def unigram_train_materialized(
    types: DataFrame,
    rounds: int = 2,
    l_max: int = 4,
    seed_n: int = 80,
    vocab_n: int = 40,
) -> DataFrame:
    """``unigram_train`` over an already-materialized (word, cnt) type
    table (the caller checkpointed or cached it; every round re-reads
    it).

    Chain: seed (top ``seed_n`` substrings by count, plus ALL single
    characters) -> ``rounds`` x (Viterbi E-step, usage M-step; unused
    multi-char pieces drop, characters persist at ``max(usage, 1)``)
    -> prune to the top ``vocab_n`` pieces plus all characters."""
    spark = types.sparkSession
    subs = _seed_candidates(types, l_max)
    top = subs.orderBy(F.col("cnt").desc(), "piece").limit(seed_n).collect()
    char_rows = subs.where(F.length("piece") == 1).collect()
    chars = sorted(r["piece"] for r in char_rows)
    vocab: dict[str, int] = {r["piece"]: r["cnt"] for r in char_rows}
    vocab.update({r["piece"]: r["cnt"] for r in top})
    for _ in range(rounds):
        usage = {
            r["piece"]: r["cnt"]
            for r in _usage_counts(types, vocab, l_max).collect()
        }
        vocab = {p: c for p, c in usage.items() if len(p) > 1}
        for ch in chars:
            vocab[ch] = usage.get(ch, 1)
    ranked = sorted(vocab.items(), key=lambda pc: (-pc[1], pc[0]))
    kept = [
        (p, c)
        for i, (p, c) in enumerate(ranked)
        if i < vocab_n or len(p) == 1
    ]
    out = [(i + 1, p, len(p), c) for i, (p, c) in enumerate(kept)]
    return spark.createDataFrame(
        out, "rank int, piece string, n_chars int, cnt long"
    )


def unigram_segment(
    df: DataFrame,
    word_col: str,
    vocab: DataFrame,
    l_max: int = 4,
    unk_count: int | None = 1,
) -> DataFrame:
    """ENCODE with a learned vocabulary: collect the bounded vocab
    table once, broadcast, Arrow Viterbi over the column's DISTINCT
    word types, hash-join the parses back (the ``bpe_segment`` shape).
    Adds ``subwords array<string>``; NULL words keep NULL subwords.
    Out-of-vocabulary characters fall back to score-``unk_count``
    char pieces by default (``viterbi_segment`` docstring) — encode
    never crashes on text whose alphabet exceeds the training corpus;
    pass ``unk_count=None`` to make unseen chars raise instead."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    vd = {r["piece"]: r["cnt"] for r in vocab.collect()}
    bc = spark.sparkContext.broadcast(vd)

    def seg_batches(batches):
        v = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "__uni_word": pdf["__uni_word"],
                    "subwords": [
                        list(viterbi_segment(w, v, l_max, unk_count))
                        for w in pdf["__uni_word"]
                    ],
                }
            )

    types = (
        df.select(F.col(word_col).alias("__uni_word"))
        .where(F.col("__uni_word").isNotNull())
        .distinct()
    )
    seg = types.mapInPandas(
        seg_batches,
        T.StructType(
            [
                T.StructField("__uni_word", T.StringType(), False),
                T.StructField(
                    "subwords", T.ArrayType(T.StringType(), False), False
                ),
            ]
        ),
    )
    return df.join(
        seg, df[word_col] == seg["__uni_word"], "left"
    ).drop("__uni_word")


# ---------------------------------------------------------------- SQL twins


def _seed_ctes(l_max: int, seed_n: int) -> list[str]:
    """seed candidate + vocab0 CTEs over a (word, cnt) relation named
    ``types``."""
    return [
        f"""subs AS (
        SELECT piece, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
            SELECT t.cnt, substr(t.word, CAST(s.s AS INT), CAST(l.l AS INT)) AS piece
            FROM types t,
                 unnest(range(1, length(t.word) + 1)) AS s(s),
                 unnest(range(1, least({l_max}, length(t.word) - s.s + 1) + 1)) AS l(l)
        ) GROUP BY piece
    )""",
        f"""vocab0 AS (
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt DESC, piece) AS rn
            FROM subs
        ) WHERE rn <= {seed_n}
        UNION
        SELECT piece, cnt FROM subs WHERE length(piece) = 1
    )""",
        """uchars AS (
        SELECT piece FROM subs WHERE length(piece) = 1
    )""",
    ]


def _round_ctes(r: int, types_rel: str = "types") -> list[str]:
    """One EM round: recursive parse enumeration over ``types_rel``
    with vocab{r-1}, argmax by the exact criterion, usage counts,
    next vocabulary. The parse product uses saturated counts
    (``least(cnt, SCORE_CAP)``) in HUGEINT — see module docstring."""
    prev = f"vocab{r - 1}"
    return [
        f"""seg{r} AS (
        SELECT t.word, 0 AS pos, 0 AS k,
               CAST(1 AS HUGEINT) AS prod, CAST('' AS VARCHAR) AS path
        FROM {types_rel} t
        UNION ALL
        SELECT s.word, s.pos + length(v.piece), s.k + 1,
               s.prod * least(v.cnt, {SCORE_CAP}),
               s.path || chr(31) || v.piece
        FROM seg{r} s JOIN {prev} v
          ON v.piece = substr(s.word, s.pos + 1, length(v.piece))
        WHERE s.pos < length(s.word)
    )""",
        f"""best{r} AS (
        SELECT word, path FROM (
            SELECT word, path,
                   row_number() OVER (PARTITION BY word
                                      ORDER BY k, prod DESC, path) AS rn
            FROM seg{r} WHERE pos = length(word)
        ) WHERE rn = 1
    )""",
        f"""usage{r} AS (
        SELECT u.piece, CAST(SUM(t.cnt) AS BIGINT) AS cnt
        FROM best{r} b
        JOIN types t USING (word),
             unnest(string_split(substr(b.path, 2), chr(31))) AS u(piece)
        GROUP BY u.piece
    )""",
        f"""vocab{r} AS (
        SELECT piece, cnt FROM usage{r} WHERE length(piece) > 1
        UNION ALL
        SELECT c.piece, CAST(COALESCE(u.cnt, 1) AS BIGINT) AS cnt
        FROM uchars c LEFT JOIN usage{r} u ON u.piece = c.piece
    )""",
    ]


def _train_ctes(rounds: int, l_max: int, seed_n: int, vocab_n: int) -> list[str]:
    ctes = _seed_ctes(l_max, seed_n)
    for r in range(1, rounds + 1):
        ctes.extend(_round_ctes(r))
    ctes.append(
        f"""kept AS (
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt DESC, piece) AS rn
            FROM vocab{rounds}
        ) WHERE rn <= {vocab_n} OR length(piece) = 1
    )"""
    )
    return ctes


def unigram_train_oracle_sql(
    corpus_cte: str,
    rounds: int = 2,
    l_max: int = 4,
    seed_n: int = 80,
    vocab_n: int = 40,
) -> str:
    """DuckDB twin of ``unigram_train``: replay seed -> EM x rounds ->
    prune as chained CTEs, parses enumerated by recursive CTE.
    ``corpus_cte`` must define a (word, cnt) relation named ``types``."""
    ctes = _train_ctes(rounds, l_max, seed_n, vocab_n)
    return (
        "WITH RECURSIVE "
        + corpus_cte
        + ",\n    "
        + ",\n    ".join(ctes)
        + """
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT) AS rank,
           piece, CAST(length(piece) AS INT) AS n_chars, cnt
    FROM kept
    ORDER BY rank"""
    )


def unigram_encode_oracle_sql(
    corpus_cte: str,
    enc_cte: str,
    rounds: int = 2,
    l_max: int = 4,
    seed_n: int = 80,
    vocab_n: int = 40,
) -> str:
    """DuckDB twin of train + ``unigram_segment`` over a document
    slice: learn the vocabulary (same CTEs), Viterbi the slice's
    DISTINCT word types against it (recursive enumeration), join back,
    emit each doc's flattened piece sequence. ``enc_cte`` must define
    (doc_id, pos, word) named ``enc``."""
    ctes = _train_ctes(rounds, l_max, seed_n, vocab_n)
    ctes.append(enc_cte)
    ctes.append("enctypes AS (SELECT DISTINCT word FROM enc)")
    segE, bestE, _, _ = _round_ctes(99, types_rel="enctypes")
    ctes.append(segE.replace("vocab98", "kept"))
    ctes.append(bestE)
    ctes.append(
        """wseg AS (
        SELECT word, string_split(substr(path, 2), chr(31)) AS ls
        FROM best99
    )"""
    )
    return (
        "WITH RECURSIVE "
        + corpus_cte
        + ",\n    "
        + ",\n    ".join(ctes)
        + """
    SELECT doc_id,
           array_to_string(flatten(list(ls ORDER BY pos)), '|')
               AS subword_seq,
           CAST(SUM(len(ls)) AS BIGINT) AS n_subwords
    FROM enc JOIN wseg USING (word)
    GROUP BY doc_id
    ORDER BY doc_id"""
    )
