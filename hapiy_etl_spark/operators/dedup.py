"""Deduplication family for training-data pipelines: exact (hash),
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale shapes:
- exact:      one hash-groupBy shuffle on a 16-byte digest — the cheap path.
- jaccard:    explode shingles → self-join on shingle → per-pair counts.
              The shingle join only pairs docs sharing ≥1 shingle (inverted
              index semantics), never all-pairs.
- minhash:    pyspark.ml MinHashLSH — banded signatures bucket candidates;
              `approxSimilarityJoin` joins on bucket, then refines. The
              100 TB path: all-pairs never materializes.
- simhash:    64-bit signature via per-bit majority vote of token hashes —
              pure column algebra; near-dups share signatures (hamming≈0
              buckets join cheaply).
- embedding:  cosine over a bucketed candidate join (see similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hapiy_etl_spark.io import spread
from hapiy_etl_spark.operators.textstats import token_hash, tokens


def normalized_text(text: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    col = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per normalized-text digest.

    groupBy on the digest (not the text): the shuffle carries 16-byte
    keys instead of documents.
    """
    digest = F.md5(normalized_text(text_col)).alias("__digest")
    keep = (
        df.select(digest, F.col(id_col))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )
    return df.join(keep.select(id_col, "dup_count"), on=id_col, how="inner")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), the unit for Jaccard/MinHash.

    Built as zip_with over shifted views of the token array — O(tokens)
    per document, versus O(tokens*n) array copies for the naive
    slice-per-position form (~10x on real corpora). Documents shorter
    than n tokens yield one partial shingle (the whole document),
    matching ``array_to_string(t[i:i+n-1])`` oracle semantics.
    """
    toks = tokens(text)
    sh = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0)))
        # F.concat propagates nulls from the zip_with length padding —
        # partial windows at the tail drop out in the filter below
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    full = F.filter(sh, lambda x: x.isNotNull())
    # short docs (< n tokens): fall back to the whole document as one shingle
    return F.array_distinct(
        F.when(F.size(full) > 0, full).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Doc pairs with shingle-Jaccard ≥ threshold, via inverted-index join.

    Returns (id_a, id_b, jaccard) with id_a < id_b. Only documents
    sharing at least one shingle are ever paired — the join key is the
    shingle, so candidate generation is |postings|², not |docs|².

    ``df_cap`` is the posting-list frequency cap every production
    near-dedup needs: a shingle appearing in d documents contributes
    d(d-1)/2 candidate pairs, so ONE boilerplate/stopword shingle with a
    hot posting list makes the self-join quadratic on a skewed key.
    Shingles with document frequency > df_cap carry ~zero Jaccard signal
    and are dropped BEFORE the self-join, via a count window over the
    SAME hash(shingle) shuffle the join needs — measured at sf0.1 this
    is cheaper than no cap at all (3.6 s vs 4.4 s, identical results),
    because pruning the heavy hitters also removes the join skew they
    cause (an anti-join formulation that re-explodes shingles costs
    8.7 s). Per-document sizes are computed over the retained shingles
    so the Jaccard denominator stays consistent with the numerator.
    ``None`` disables the cap (exact semantics over all shingles).

    The join/shuffle key is xxhash64(shingle) — 8 bytes instead of a
    multi-word string; a 64-bit collision would need ~2^32 distinct
    shingles to become likely, so counts are unaffected in practice.
    """
    # spread (io.py): parallelize the shingle+explode map side when the
    # input is an unsplittable single-partition scan (guide §2.5)
    sh = spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, n)).alias("s")
    ).select("doc", F.xxhash64("s").alias("sh"))
    if df_cap is not None:
        from pyspark.sql import Window as W

        sh = (
            sh.withColumn("__df", F.count("*").over(W.partitionBy("sh")))
            .where(F.col("__df") <= df_cap)
            .drop("__df")
        )
    # NOTE: no cache here — within one action Spark reuses the identical
    # shingle Exchange across the three branches (ReusedExchange);
    # measured: caching costs more than it saves. Cache only when the
    # pairs feed MULTIPLE actions (see dedup_pipeline_end_to_end).
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    df_cap: int | None = 100,
) -> DataFrame:
    """DIRECTED near-dup pairs by shingle CONTAINMENT — |A∩B| / |A|,
    the asymmetric complement of Jaccard (Broder's containment; the
    regime "Deduplicating Training Data Makes Language Models Better"
    flags where symmetric scores miss: a short doc embedded verbatim
    inside a much longer one has tiny Jaccard but containment ~1.0 —
    quote farms, aggregator pages, boilerplate-wrapped reposts).

    Returns (id_sub, id_super, containment): id_sub's distinct
    shingles are ≥ threshold contained in id_super's. Both directions
    of every candidate pair are scored from ONE shared-count
    aggregate — same inverted-index join, posting cap (``df_cap``, the
    hot-shingle skew guard), and 8-byte xxhash64 join key as
    ``jaccard_pairs``; the direction split is a cheap union over the
    pair-grain aggregate, never a second corpus scan."""
    # spread (io.py): parallelize the shingle+explode map side when the
    # input is an unsplittable single-partition scan (guide §2.5)
    sh = spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, n)).alias("s")
    ).select("doc", F.xxhash64("s").alias("sh"))
    if df_cap is not None:
        from pyspark.sql import Window as W

        sh = (
            sh.withColumn("__df", F.count("*").over(W.partitionBy("sh")))
            .where(F.col("__df") <= df_cap)
            .drop("__df")
        )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb"))
    pairs = shared.join(sa, "id_a").join(sb, "id_b")
    fwd = pairs.select(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_super"),
        F.round(F.col("shared") / F.col("na"), 6).alias("containment"),
    )
    rev = pairs.select(
        F.col("id_b").alias("id_sub"),
        F.col("id_a").alias("id_super"),
        F.round(F.col("shared") / F.col("nb"), 6).alias("containment"),
    )
    return fwd.unionAll(rev).where(F.col("containment") >= threshold)


def union_neardup_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    jaccard_threshold: float = 0.5,
    containment_threshold: float = 0.6,
    df_cap: int | None = 100,
) -> DataFrame:
    """UNDIRECTED near-dup edges by Jaccard OR containment — the union
    graph containment-aware survivorship clusters over (r14): a pair is
    an edge when its shingle Jaccard ≥ ``jaccard_threshold`` OR either
    direction's containment ≥ ``containment_threshold``. One inverted-
    index join and ONE shared-count aggregate scores all three
    predicates (``jaccard_pairs`` and ``containment_pairs`` run the
    identical join separately — composing them would scan the corpus
    twice for the same counts); same xxhash64 8-byte key and ``df_cap``
    hot-shingle guard. Returns (id_a, id_b), id_a < id_b."""
    # spread (io.py): parallelize the shingle+explode map side when the
    # input is an unsplittable single-partition scan (guide §2.5)
    sh = spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, n)).alias("s")
    ).select("doc", F.xxhash64("s").alias("sh"))
    if df_cap is not None:
        from pyspark.sql import Window as W

        sh = (
            sh.withColumn("__df", F.count("*").over(W.partitionBy("sh")))
            .where(F.col("__df") <= df_cap)
            .drop("__df")
        )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb"))
    c, na, nb = F.col("shared"), F.col("na"), F.col("nb")
    keep = (
        (F.round(c / (na + nb - c), 6) >= jaccard_threshold)
        | (F.round(c / na, 6) >= containment_threshold)
        | (F.round(c / nb, 6) >= containment_threshold)
    )
    return (
        shared.join(sa, "id_a").join(sb, "id_b").where(keep).select("id_a", "id_b")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hash_tables: int = 5,
    jaccard_threshold: float = 0.5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash LSH (pyspark.ml).

    Shingle → hashed term frequencies → MinHash signatures →
    approxSimilarityJoin at distance ≤ 1 - threshold. Output:
    (id_a, id_b, jaccard_distance), id_a < id_b.

    Spark's MinHashLSH banding is 1 hash per table, so candidate volume
    grows ~linearly with num_hash_tables even for barely-similar pairs:
    P(candidate) = 1-(1-s)^T. T=5 keeps recall ≥0.99 for s ≥ 0.6 while
    generating ~40% fewer junk candidates than T=8 on low-similarity
    corpora — the dominant cost at scale is the refine join, not the
    signatures.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    with_sh = spread(df, id_col).select(F.col(id_col).alias("doc_id_"), shingles(text_col, n).alias("sh")).where(
        F.size("sh") > 0
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features, binary=True)
    feats = tf.transform(with_sh)
    lsh = MinHashLSH(inputCol="features", outputCol="sig", numHashTables=num_hash_tables, seed=seed)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 1.0 - jaccard_threshold, distCol="jaccard_distance")
    return (
        joined.where(F.col("datasetA.doc_id_") < F.col("datasetB.doc_id_"))
        .select(
            F.col("datasetA.doc_id_").alias("id_a"),
            F.col("datasetB.doc_id_").alias("id_b"),
            F.round("jaccard_distance", 6).alias("jaccard_distance"),
        )
    )


_MERSENNE31 = (1 << 31) - 1


def _hash_params(k: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k universal hashes mod 2^31-1."""
    state = seed or 1
    out = []
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = state % (_MERSENNE31 - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % _MERSENNE31
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """(doc, sig array<long>) MinHash signatures — the PERSISTABLE unit
    of incremental dedup state: one narrow row per document, text never
    needed again. ``portable=True`` uses the md5-prefix base hash so
    signatures computed by ANY engine (or cluster version) agree —
    store these in a table and dedup future batches against history
    without rescanning a byte of corpus text (dedup_against_index)."""
    base_h = (
        f"pmod(cast(conv(substring(md5(s), 1, 14), 16, 10) AS BIGINT), {_MERSENNE31})"
        if portable
        else f"pmod(xxhash64(s), {_MERSENNE31})"
    )
    mins = ", ".join(
        f"min((h * {a} + {b}) % {_MERSENNE31})"
        for a, b in _hash_params(num_hashes, seed)
    )
    # NOT spread (io.py): measured at sf0.1 — the tokenless 8-byte hash
    # map stage is too cheap for the extra exchange to pay (5-rep
    # standalone medians 0.77 -> 0.79/0.92 s with spread)
    sh = df.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, n)).alias("s")
    ).selectExpr("doc", f"{base_h} AS h")
    return sh.groupBy("doc").agg(F.expr(f"array({mins})").alias("sig"))


# The MinHash plans below are SQL text (F.expr/selectExpr), not F.*
# Column trees: every Column node built from Python is several py4j
# round trips to the JVM (~1.5 ms each for a bare F.col on a 4-vCPU
# host), so a 16-hash signature plus 8 band structs cost ~2,500 round
# trips per batch, while Catalyst parses the same expressions from one
# string per call. Types and values are those of the Column forms.


def _band_structs_sql(num_hashes: int, band_size: int, portable: bool) -> str:
    """``array(named_struct('band', j, 'key', <key j>), ...)`` over the
    ``sig`` column — the ONE implementation of band-key arithmetic,
    shared by the banding projection (minhash_bands) and the persisted
    band-postings layout (band_postings) so the two can never disagree.
    Portable mode joins on the raw component-concat string
    (engine-agnostic); default hashes it to a fixed-width 8-byte
    shuffle key."""
    structs = []
    for j in range(num_hashes // band_size):
        key = "concat_ws(',', " + ", ".join(
            f"cast(element_at(sig, {j * band_size + r + 1}) AS STRING)"
            for r in range(band_size)
        ) + ")"
        if not portable:
            key = f"xxhash64({key})"
        structs.append(f"named_struct('band', {j}, 'key', {key})")
    return f"array({', '.join(structs)})"


def _jaccard_est_sql(sig_a: str, sig_b: str, num_hashes: int) -> str:
    """Signature-agreement Jaccard estimate of two sig columns, rounded
    to 6 places: matching components / num_hashes."""
    return (
        f"round(size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y), "
        f"t -> t)) / {num_hashes}, 6)"
    )


def minhash_bands(
    sigs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 2,
    portable: bool = False,
) -> DataFrame:
    """(doc, band, key) banding rows derived from stored signatures —
    a narrow projection over sig arrays, no text, no shingle pass.
    Key geometry must match the signatures' ``portable`` flag: raw
    component-concat strings (engine-agnostic) or xxhash64 of them
    (fixed-width shuffle keys, the default)."""
    return sigs.selectExpr(
        "doc", f"inline({_band_structs_sql(num_hashes, band_size, portable)})"
    )


N_BAND_BUCKETS = 16  # landing buckets for persisted band postings; only
# needs to spread (band, key) space enough that a batch's present
# buckets are a small fraction of the index's dirs. Demo-scale default:
# size real indexes with suggest_band_bucket_geometry at creation (the
# modulus is stamped and immutable once rows land).


def suggest_band_bucket_geometry(
    expected_docs: int,
    num_hashes: int = 16,
    band_size: int = 2,
    target_postings_per_bucket: int = 4_000_000,
) -> int:
    """Pick ``n_band_buckets`` for a NEW signature index from its
    expected corpus size (VERDICT r10 item 4). The bucket modulus is
    part of every stored ``bb`` value, stamped in the manifest and
    IMMUTABLE once rows land (a change would orphan every stored
    posting) — so unlike the cluster dir count
    (maintenance.sized_cluster_dirs, which adapts per compaction),
    this must be chosen up front from a capacity estimate.

    The index holds ``expected_docs × n_bands`` postings; the rule
    gives the power of two keeping a bucket near
    ``target_postings_per_bucket`` rows (a trickle tick reads
    ``≤ n_bands`` buckets, so the target bounds its read in ROWS at
    full capacity), clamped to [16, 65536]. A 2× estimate error moves
    per-bucket size 2× — shrug-grade; re-shard only on 100×. Examples
    at the defaults (8 bands): 1M docs → 16; 100M → 256; 10B → 32768."""
    n_bands = max(1, num_hashes // band_size)
    need = max(1, (int(expected_docs) * n_bands) // max(1, target_postings_per_bucket))
    n = 16
    while n < need and n < 65536:
        n <<= 1
    return n


def band_bucket(band: Column, key: Column, n_buckets: int = N_BAND_BUCKETS) -> Column:
    """Portable (band, key) → landing-bucket column: the text index's
    term-bucket kernel (textindex.term_bucket — first 4 md5 hex digits
    mod n_buckets) applied to the "band,key" concat. ONE shared
    implementation (review r10): a drift between two copies of the
    cross-engine kernel would be a silent pruning-correctness bug.
    Because the bucket is a pure function of the band JOIN KEY, an
    index row can only collide with a batch row that shares its
    bucket — which is what makes bucket-list pruning of a persisted
    signature index EXACT, never lossy."""
    from hapiy_etl_spark.operators.textindex import term_bucket

    return term_bucket(
        F.concat_ws(",", band.cast("string"), key.cast("string")), n_buckets
    )


def band_postings(
    sigs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 2,
    portable: bool = False,
    n_buckets: int = N_BAND_BUCKETS,
) -> DataFrame:
    """(bb, band, key, doc, sig) — the LANDING layout of a persisted
    signature index (VERDICT r9): one row per (doc, band) with the
    signature denormalized on (the ``dl``-on-the-posting trick from
    the text index, so the refine step needs no second join against a
    sig table), plus the ``bb`` landing bucket from :func:`band_bucket`.
    Stored with per-dir ``bb`` stats (and re-clustered on ``bb`` at
    OPTIMIZE), the index serves incremental dedup at
    bucket-read cost: a new batch's ≤ n_buckets present buckets prune
    the index read to their dirs, instead of scanning the whole index
    every micro-batch. Row width is n_bands × (sig + two ints) per
    document — still a narrow fraction of corpus text."""
    structs = _band_structs_sql(num_hashes, band_size, portable)
    return sigs.selectExpr("doc", "sig", f"inline({structs})").select(
        band_bucket(F.col("band"), F.col("key"), n_buckets).alias("bb"),
        "band",
        "key",
        "doc",
        "sig",
    )


def dedup_against_band_index(
    batch_sigs: DataFrame,
    index_bands: DataFrame,
    num_hashes: int = 16,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Incremental near-dedup against a PERSISTED BAND-POSTINGS index
    (:func:`band_postings` layout): (new_id, dup_of, jaccard_est) for
    every batch document that band-collides with an index row and
    refines above the threshold — same semantics as
    :func:`dedup_against_index`, but the history side arrives already
    banded WITH its signature on the row, so the refine needs no
    second index read: one band equi-join + one batch-side sig join.
    Callers prune ``index_bands`` to the batch's present ``bb``
    buckets (``TxTable.read(where_in={"bb": ...})``) — exact, because
    a colliding pair shares its (band, key) and therefore its bucket."""
    bb = minhash_bands(batch_sigs, num_hashes, band_size, portable)
    cand = (
        bb.alias("b")
        .join(
            index_bands.alias("i"),
            (F.col("b.band") == F.col("i.band"))
            & (F.col("b.key") == F.col("i.key")),
        )
        .selectExpr("b.doc AS new_id", "i.doc AS dup_of", "i.sig AS sig_i")
        .dropDuplicates(["new_id", "dup_of"])
    )
    sb = batch_sigs.selectExpr("doc AS new_id", "sig AS sig_b")
    est = _jaccard_est_sql("sig_b", "sig_i", num_hashes)
    return (
        cand.join(sb, "new_id")
        .selectExpr("new_id", "dup_of", f"{est} AS jaccard_est")
        .where(F.col("jaccard_est") >= jaccard_threshold)
    )


def dedup_against_index(
    batch_sigs: DataFrame,
    index_sigs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Incremental near-dedup: (new_id, dup_of, jaccard_est) for every
    BATCH document that band-collides with an INDEX (history) document
    and refines above the threshold. The 100 TB ingestion pattern: the
    corpus's dedup state is its signature table (minhash_signatures —
    narrow rows, appended batch-by-batch); a new batch computes its own
    signatures, bands BOTH sides from sig arrays (no text rescan,
    ever), and joins band keys — cost scales with |batch| + the index
    rows sharing its band keys, never with corpus text. Batch-vs-batch
    self-duplicates are minhash_native_pairs' job; this checks only
    new-vs-history (caller keeps id spaces disjoint). With
    ``portable=True`` signatures survive engine migration, so an index
    built by one engine keeps deduping under another — the whole
    pipeline replays in the DuckDB oracle twin."""
    bb = minhash_bands(batch_sigs, num_hashes, band_size, portable)
    ib = minhash_bands(index_sigs, num_hashes, band_size, portable)
    cand = (
        bb.alias("b")
        .join(
            ib.alias("i"),
            (F.col("b.band") == F.col("i.band"))
            & (F.col("b.key") == F.col("i.key")),
        )
        .selectExpr("b.doc AS new_id", "i.doc AS dup_of")
        .dropDuplicates(["new_id", "dup_of"])
    )
    sb = batch_sigs.selectExpr("doc AS new_id", "sig AS sig_b")
    si = index_sigs.selectExpr("doc AS dup_of", "sig AS sig_i")
    est = _jaccard_est_sql("sig_b", "sig_i", num_hashes)
    return (
        cand.join(sb, "new_id")
        .join(si, "dup_of")
        .selectExpr("new_id", "dup_of", f"{est} AS jaccard_est")
        .where(F.col("jaccard_est") >= jaccard_threshold)
    )


def minhash_native_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs via DataFrame-native MinHash banding —
    no pyspark.ml, every stage declarative and codegen'd.

    Pipeline: explode distinct shingles → one groupBy computing all k
    minhash components (min of universal hashes mod 2^31-1) → band keys
    (xxhash64 of each r-component slice) → equi-join per band → dedupe →
    estimate Jaccard as the matching-component fraction of the full
    signatures. Banding math: P(candidate) = 1-(1-s^r)^(k/r).

    Output: (id_a, id_b, jaccard_est). The estimator has stddev
    ~sqrt(s(1-s)/k); for dedup-grade thresholds (s ≥ ~0.7) k=16 is
    ample. Scale shape: one shuffle for signatures, one band join on
    16-byte keys, no all-pairs anywhere.

    ``portable=True`` swaps the shingle hash from xxhash64 to the
    repo's md5 kernel (first 14 hex digits as a bigint — the
    md5_uniform trick) and joins bands on the raw component-concat
    string instead of its xxhash: every stage is then reproducible in
    ANY engine with md5, which is what lets dedup_minhash_portable
    carry a full DuckDB oracle twin of the whole minhash+banding
    pipeline. Default stays xxhash64 — one 8-byte hash beats a 16-byte
    md5 on the hot shingle explode, and band keys stay fixed-width.
    """
    # signatures feed three branches (band explode + both refine sides) —
    # cache and force once, or the shingle pass replays per branch
    sig_arr = minhash_signatures(
        df, id_col, text_col, n=n, num_hashes=num_hashes, seed=seed,
        portable=portable,
    ).cache()
    sig_arr.count()
    bands = minhash_bands(
        sig_arr, num_hashes=num_hashes, band_size=band_size, portable=portable
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig_arr.selectExpr("doc AS id_a", "sig AS sig_a")
    sb = sig_arr.selectExpr("doc AS id_b", "sig AS sig_b")
    est = _jaccard_est_sql("sig_a", "sig_b", num_hashes)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .selectExpr("id_a", "id_b", f"{est} AS jaccard_est")
        .where(F.col("jaccard_est") >= jaccard_threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    rounds: int | None = 3,
    checkpoint_every: int = 2,
    max_rounds: int = 64,
) -> DataFrame:
    """Pick one survivor per duplicate cluster: min-label propagation
    (connected components over the pair graph), returns (doc_id,
    cluster_id).

    Labels converge once ``rounds`` ≥ the graph diameter; duplicate
    clusters are near-cliques (diameter ≤ 2-3), so the default 3 rounds
    is exact for them. ``rounds=None`` (r15) runs CONVERGE-DETECTED:
    propagate until a full round changes no label (fixpoint = exact
    connected components at ANY diameter, closing the data-dependence a
    fixed round count carries on long-chain graphs), guarded by
    ``max_rounds`` — a duplicate chain longer than 64 hops means the
    candidate generator is broken, and the loud error beats silently
    wrong clusters. Each converge-mode round eager-localCheckpoints
    (the convergence probe is an action anyway — the checkpoint makes
    it pay for materialization exactly once) and the probe itself is a
    LIMIT-1 join on the bounded label table. Edges are cached so the
    upstream candidate generator (LSH etc.) runs exactly once; each
    round is a join + groupBy-min on (node, label) pairs.

    Iterative lineage is the classic Spark trap: each round's plan
    embeds the previous round's twice, so an unbroken loop builds an
    O(3^rounds) plan. ``checkpoint_every`` breaks the lineage with an
    eager ``localCheckpoint`` — executor-local storage, no HDFS
    round-trip; for long jobs on preemptible clusters use reliable
    ``checkpoint()`` instead (survives executor loss).

    Cadence rule (measured at sf0.1): aim for exactly ONE break near
    the end — each break is a full action over a tiny label table, so
    extra breaks cost more than they save, and no break leaves the
    final plan exponentially deep. rounds=3: unbroken 13-23 s, one
    break (k=2) ~7 s. rounds=6: two breaks (k=2) 12.6 s, one break
    (k=3) 4.6 s, unbroken 6.3 s.
    """
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b"))).cache()
    labels = (
        edges.select("a")
        .union(edges.select("b"))
        .distinct()
        .select(F.col("a").alias("node"), F.col("a").alias("label"))
    )

    def _one_round(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges.b == lbl.node)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        return lbl.join(neighbor_min, lbl.node == neighbor_min.a, "left").select(
            "node", F.least("label", F.coalesce("nmin", "label")).alias("label")
        )

    if rounds is None:
        labels = labels.localCheckpoint(eager=True)
        for _ in range(max_rounds):
            new_labels = _one_round(labels).localCheckpoint(eager=True)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"label propagation did not converge in {max_rounds} rounds"
                " — the candidate pair graph has an implausibly long chain"
            )
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        )

    for r in range(rounds):
        labels = _one_round(labels)
        if checkpoint_every and (r + 1) % checkpoint_every == 0 and r + 1 < rounds:
            labels = labels.localCheckpoint(eager=True)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash: per-bit majority vote over token xxhash64 values.

    Pure column algebra — for each bit b, sum ±1 over tokens by whether
    bit b of xxhash64(token) is set; the signature packs the signs.
    Near-duplicate texts differ in few bits (small hamming distance).
    """
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def vote(b: int):
        # closure returning a 2-arg (acc, h) merge fn so PySpark doesn't
        # misread extra defaulted params as the (element, index) form
        def merge(acc, h):
            mask = F.shiftleft(F.lit(1).cast("long"), b)
            return acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1)

        return merge

    bits = [
        F.when(
            F.aggregate(hashes, F.lit(0), vote(b)) > 0,
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


#: signature width of the portable (md5-kernel) simhash: 15 hex digits
#: of the token's md5 = 60 bits, the widest md5 prefix that fits a
#: signed 64-bit long without overflow
PORTABLE_SIMHASH_BITS = 60


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """(doc, sig) via one explode + one hash-aggregate pass.

    Equivalent to ``simhash64`` but ~10x faster on wide corpora: tokens
    explode once, the token hash computes once per token, and all bit
    majorities aggregate in a single partial+final groupBy instead of
    one array fold per bit per document.

    ``portable=True`` swaps xxhash64 for the md5-prefix bigint kernel
    (15 hex digits → a 60-bit signature): every stage — token hash,
    per-bit majority, packing — is then reproducible in any engine
    with md5, which is what lets dedup_simhash_portable carry a full
    DuckDB oracle twin. Default stays xxhash64/64-bit for the hot path.
    """
    # NOT spread (io.py): measured at sf0.1 — 5-rep standalone medians
    # 2.44 -> 2.65 s with spread; the vote aggregation dominates, not
    # the single-task tokenize, so the extra exchange is pure cost here
    #
    # Expressions build as SQL strings parsed server-side (optimization
    # r16): the Column-API form issued ~8 py4j round-trips per bit —
    # ~1.5 s of pure DataFrame CONSTRUCTION per call at 64 bits,
    # measured larger than the query's whole execution. One F.expr per
    # vote (and one for the packed signature) moves the tree-building
    # into Catalyst's parser; the parsed expressions are identical
    # (same functions, same null semantics), pinned by the portable
    # twin's DuckDB oracle and the sf0.1 sorted-result identity.
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode_outer(tokens(text_col)).alias("tok")
    )
    if portable:
        h_sql = "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"
        n_bits = PORTABLE_SIMHASH_BITS
    else:
        h_sql = "xxhash64(tok)"
        n_bits = 64
    ht = tok.select("doc", F.expr(h_sql).alias("h"))
    votes = [
        F.expr(
            f"sum(CASE WHEN (h & shiftleft(CAST(1 AS BIGINT), {b})) != 0 "
            "THEN 1 ELSE -1 END)"
        ).alias(f"v{b}")
        for b in range(n_bits)
    ]
    agg = ht.groupBy("doc").agg(*votes)
    sig_sql = " | ".join(
        f"(CASE WHEN v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(n_bits)
    )
    return agg.select("doc", F.expr(sig_sql).alias("sig"))


def _simhash_tables(max_hamming: int) -> list[tuple[int, ...]]:
    """Block-combination tables for the Manku web-dedup scheme.

    Split 64 bits into m = max_hamming + 3 blocks. A pair with hamming
    ≤ d differs in ≤ d blocks, so it AGREES on some (m-d)-subset of
    blocks — probing every C(m, m-d) subset as a join key guarantees
    recall 1.0 for hamming ≤ d. For d=3: m=6 blocks (~11 bits each),
    C(6,3)=20 tables with ~32-bit keys.
    """
    from itertools import combinations

    m = max_hamming + 3
    return list(combinations(range(m), m - max_hamming))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash block banding (Manku et al.'s web-dedup
    layout): split the 64-bit signature into m = max_hamming + 3 blocks
    and emit one join key per (m - max_hamming)-block combination —
    C(m,3)=20 tables of ~32-bit keys for the default hamming ≤ 3.
    Pigeonhole guarantees recall 1.0; candidates are refined by exact
    hamming distance. Join is per-table equi — no all-pairs.

    Bucket-occupancy math (why not 4×16-bit bands): a 16-bit band key
    bounds the bucket space at 65,536, so beyond ~10⁵–10⁶ docs the
    per-bucket pair count grows as (n/65k)² per band — quadratic on a
    saturated key space. A ~32-bit combined key gives ~4·10⁹ buckets:
    at 10⁹ docs the expected bucket occupancy is <1 and candidate
    volume stays ~linear. The cost is C(m,3)/4 = 5× more exploded rows,
    all 16-byte (table, key) pairs — the right trade at scale.
    """
    sig = simhash_signatures(df, id_col, text_col, portable=portable)
    n_bits = PORTABLE_SIMHASH_BITS if portable else 64
    return signature_band_pairs(sig, max_hamming=max_hamming, n_bits=n_bits)


def signature_band_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 64,
    key_cap: int | None = None,
) -> DataFrame:
    """Manku block banding over ANY (doc, sig) bit-signature frame —
    the candidate-generation kernel factored out of ``simhash_pairs``
    (r12) so other hamming-space signatures reuse the same bucketed
    posture: perceptual image hashes (``operators/multimodal.py``
    dHash), audio fingerprints, any 64-bit locality-sensitive code.

    Splits the ``n_bits`` signature into m = max_hamming + 3 blocks and
    probes every (m - max_hamming)-block combination as an equi-join
    key; pigeonhole guarantees recall 1.0 for hamming ≤ max_hamming,
    candidates refine by exact ``hamming64``. Never all-pairs — see
    ``simhash_pairs`` for the bucket-occupancy math at 10⁹ rows.

    ``key_cap`` (r13) is the posting-frequency guard the perceptual
    family needs — the ``df_cap`` move from ``shingle_jaccard``
    applied to band buckets: a (band, key) bucket holding more than
    ``key_cap`` signatures is a degenerate hot bucket (black/intro
    frames, constant-color thumbnails hash to IDENTICAL signatures),
    and the self-join on it is a (occupancy)² candidate blowup on one
    skewed key. Buckets over the cap drop ENTIRELY before the join —
    exact duplicates they hide stay covered by the exact-digest
    regime (``multimodal_payload_dedup`` / ``multimodal_frame_dedup``),
    while genuinely near (not identical) pairs keep recall via their
    other, non-degenerate bands. ``None`` disables (full pigeonhole
    recall — the text SimHash default, whose token-mix signatures are
    near-uniform).

    Input columns: ``doc`` (id), ``sig`` (long). Output: (id_a, id_b,
    hamming) with id_a < id_b, distinct.
    """
    tables = _simhash_tables(max_hamming)
    m = max_hamming + 3
    widths = [n_bits // m + (1 if i < n_bits % m else 0) for i in range(m)]
    offsets = [sum(widths[:i]) for i in range(m)]

    # band table keys as ONE server-side-parsed expression (optimization
    # r16): the Column-API form issued ~15 py4j round-trips per table —
    # ~1 s of DataFrame construction per call at C(6,3)=20 tables,
    # comparable to the query's execution. Identical arithmetic
    # (shiftright is the same arithmetic shift, masks are the same
    # literals), pinned by planted-recall tests and result identity.
    def block_sql(i: int) -> str:
        return f"(shiftright(sig, {offsets[i]}) & {(1 << widths[i]) - 1})"

    def table_key_sql(combo: tuple[int, ...]) -> str:
        key = "CAST(0 AS BIGINT)"
        for i in combo:
            key = f"(shiftleft({key}, {widths[i]}) | {block_sql(i)})"
        return key

    structs = ", ".join(
        f"struct(CAST({t} AS INT) AS band, {table_key_sql(combo)} AS key)"
        for t, combo in enumerate(tables)
    )
    bands = sig.select(
        "doc", "sig", F.expr(f"inline(array({structs}))")
    )
    if key_cap is not None:
        from pyspark.sql import Window as W

        bands = (
            bands.withColumn(
                "__occ", F.count("*").over(W.partitionBy("band", "key"))
            )
            .where(F.col("__occ") <= key_cap)
            .drop("__occ")
        )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_span_tokens: int | None = None,
    df_cap: int | None = 200,
) -> DataFrame:
    """Exact-substring dedup detector (the suffix-array-style pass of
    "Deduplicating Training Data Makes Language Models Better",
    distributed): find document pairs sharing a VERBATIM token run of
    ≥ min_span_tokens (default k), and report the longest such run.

    Positions matter here (unlike Jaccard's distinct shingles):
    1. slide a k-token window over every document → (doc, pos, hash);
    2. equi-join windows on the 8-byte hash (id_a < id_b);
    3. matches from one contiguous shared span all lie on one DIAGONAL
       (pos_a - pos_b constant), at consecutive pos_a — islands of
       consecutive positions per (pair, diagonal) are found with the
       classic pos - row_number() grouping, so the longest shared run
       is max(island length) + k - 1 tokens, computed EXACTLY without
       any character-level rescan;
    4. ``df_cap`` drops k-gram hashes appearing in > cap windows
       (boilerplate guard, same skew argument as jaccard_pairs).

    Output: (id_a, id_b, longest_span_tokens, n_shared_kgrams).
    """
    from pyspark.sql import Window as W

    if min_span_tokens is None:
        min_span_tokens = k

    toks = tokens(text_col)
    # Guard short documents: sequence(0, -1) is NOT empty in Spark (it
    # yields the descending [0, -1], and slice(toks, 0, k) then throws
    # INVALID_PARAMETER_VALUE.START). Docs with < k tokens have no
    # k-gram window at all — emit an empty array for them.
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)
    ).otherwise(F.array().cast("array<int>"))
    win = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))).alias("h"),
        ),
    )
    grams = (
        # spread (io.py): the O(tokens*k) window-hash construction is the
        # heavy map stage — parallelize it off a single-partition scan
        spread(df, id_col)
        .select(F.col(id_col).alias("doc"), F.explode(win).alias("w"))
        .select("doc", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )
    # Match-ability pre-filter: a hash occurring ONCE in the whole
    # corpus cannot produce a join match, and on real text the vast
    # majority of k-gram hashes are singletons — dropping them before
    # the self-join shrinks both join inputs by ~10-20x for identical
    # output (a.doc < b.doc needs two rows with equal h; same-doc
    # repeats with __df >= 2 are kept, exactly as before). Rides the
    # same count-window shuffle the df_cap guard already pays.
    lo = F.col("__df") >= 2
    keep = lo if df_cap is None else lo & (F.col("__df") <= df_cap)
    grams = (
        grams.withColumn("__df", F.count("*").over(W.partitionBy("h")))
        .where(keep)
        .drop("__df")
    )
    if df_cap is not None:
        # Posting-list pair expansion instead of a self-join: the
        # windowed+filtered grams are ALREADY hash-partitioned by h, so
        # collect_list per h adds no shuffle, list sizes are bounded by
        # df_cap, and the ordered pair combinations expand inline with
        # higher-order functions. The self-join form re-derived the
        # whole scan→tokenize→window pipeline for each side (Catalyst
        # does not reuse the exchange across the branches — verified in
        # the executed plan); this form runs ONE scan and ONE shuffle
        # for identical output.
        lst = F.col("lst")
        matches = (
            grams.groupBy("h")
            .agg(F.collect_list(F.struct("doc", "pos")).alias("lst"))
            .select(
                F.explode(
                    F.flatten(
                        F.transform(
                            lst,
                            lambda x: F.transform(
                                F.filter(lst, lambda y: x["doc"] < y["doc"]),
                                lambda y: F.struct(
                                    x["doc"].alias("id_a"),
                                    y["doc"].alias("id_b"),
                                    x["pos"].alias("pos_a"),
                                    (x["pos"] - y["pos"]).alias("diag"),
                                ),
                            ),
                        )
                    )
                ).alias("m")
            )
            .select("m.id_a", "m.id_b", "m.pos_a", "m.diag")
        )
    else:
        # Uncapped regime: posting lists are unbounded, keep the join.
        a, b = grams.alias("a"), grams.alias("b")
        matches = a.join(
            b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc"))
        ).select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.pos").alias("pos_a"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    run_w = W.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    islands = matches.withColumn(
        "grp", F.col("pos_a") - F.row_number().over(run_w)
    )
    runs = islands.groupBy("id_a", "id_b", "diag", "grp").agg(
        F.count("*").alias("run_len")
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            (F.max("run_len") + F.lit(k - 1)).alias("longest_span_tokens"),
            F.sum("run_len").alias("n_shared_kgrams"),
        )
        .where(F.col("longest_span_tokens") >= min_span_tokens)
    )

