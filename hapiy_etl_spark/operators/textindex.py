"""Persisted inverted text index — postings in a TxTable, incremental
appends, bucket-pruned BM25 probes.

The text-retrieval member of the persisted-index family (IVF cells in
``similarity.py``, MinHash signatures and sign-bucket embeddings in
``dedup.py`` / ``queries/vectors.py``): tokenize the corpus ONCE into
postings rows ``(tb, term, doc_id, tf, dl)``, land them one dir per
term-bucket with tight ``tb`` stats, and every later keyword / BM25
probe reads only the query terms' buckets — dir-level pruning instead
of a corpus rescan. New document batches append their own postings
without touching stored rows; corpus-level statistics (document count,
total length) accumulate as tiny mergeable meta rows, and per-term
document frequency is derived at probe time from exactly the postings
the probe already reads, so nothing global is ever recomputed.

The bucket key is the repo's portable md5 kernel (hex-prefix mod), so
the same bucket is computable in Spark SQL, driver-side Python (to
turn a literal query-term list into a dir list with no Spark job), and
a DuckDB oracle twin.

Scale shape at 100 TB: postings are narrow (term, id, two ints) — a
fraction of corpus bytes; per-term df is a window over the pruned slice
and the corpus stats (one meta row per append) are summed on the
driver; scoring is one window + one groupBy on the pruned slice. No
all-pairs, no corpus rescan per query.

Reference parity: the reference pipeline (git_etl.ts) has no search
surface; this is target-surface for the LLM-data-pipeline family
(corpus keyword audit, decontamination probes, boolean retrieval).
Assumes each document is ingested once — re-ingesting a changed
document is MERGE territory (rewrite its postings), not append.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 8  # bump for denser vocabularies; buckets only need to
# spread terms enough that a probe's dir list stays a small fraction


def term_bucket(col: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Portable term→bucket key: first 4 md5 hex digits mod n_buckets.
    Identical arithmetic in Spark, Python (term_bucket_py) and SQL
    twins — the same engine-portable kernel the corpus splits use."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("int"),
        F.lit(n_buckets),
    )


def term_bucket_py(term: str, n_buckets: int = N_BUCKETS) -> int:
    """Driver-side twin of term_bucket: lets a literal query-term list
    become a probed-bucket list without a Spark job."""
    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n_buckets


def postings_build(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    """Tokenize a document batch into ``(postings, meta)``.

    ``postings``: one row per distinct (doc, term) —
    ``(tb, term, <doc_id>, tf, dl)`` with the document length
    denormalized on so a probe needs no second corpus-wide table (the
    classic search-engine layout: the length norm rides the posting).
    ``meta``: 1 row ``(n_docs, sum_dl)`` — mergeable by SUM across
    appended batches, so corpus-average document length is exact at
    any index version. Tokenization (whitespace split, NULL-text docs
    drop at explode) matches the corpus BM25 queries bit-for-bit."""
    from hapiy_etl_spark.io import spread

    # spread (io.py): parallelize tokenize+bucket off a single-partition
    # scan or single-file change-feed batch (guide §2.5)
    tok = spread(docs, doc_id).select(
        F.col(doc_id).alias("__doc"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("__t"),
    )
    doclen = tok.groupBy("__doc").agg(F.count("*").alias("dl"))
    tf = tok.groupBy("__doc", "__t").agg(F.count("*").alias("tf"))
    postings = tf.join(doclen, "__doc").select(
        term_bucket(F.col("__t"), n_buckets).alias("tb"),
        F.col("__t").alias("term"),
        F.col("__doc").alias(doc_id),
        "tf",
        "dl",
    )
    meta = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    return postings, meta


_STAMP_CACHE: dict[tuple[str, int, str], int | None] = {}


def stamp_cache_clear() -> None:
    """Drop the recorded-stamp memo — call whenever on-disk tables may
    have been DELETED AND REBUILT at the same paths within this session
    (the one write pattern that violates the immutable-manifest premise
    the memo rests on; `index_fixtures_clear` does this per bench rep)."""
    _STAMP_CACHE.clear()


def stamp_cache_drop(path_prefix: str) -> None:
    """Drop memoized stamps for every table path under ``path_prefix``
    — the precise invalidation for a SELF-RESETTING demo/scenario query
    that rmtrees and rebuilds its tables at a session-stable path
    (ADVICE r11: those rebuilds used to rely on the rebuild being
    deterministic with identical geometry rather than honoring the
    memo's documented delete-and-rebuild contract). Other fixtures'
    cached stamps survive, unlike ``stamp_cache_clear``."""
    pref = str(path_prefix)
    for k in [k for k in _STAMP_CACHE if k[0].startswith(pref)]:
        del _STAMP_CACHE[k]


def recorded_stamp(index, key: str) -> int | None:
    """Newest manifest-meta stamp ``key`` in the index's history, read
    NEWEST-FIRST with an early exit — one manifest file per step, so a
    stamped table answers in O(1) manifest reads no matter how many
    versions it has accumulated (review r10: the history() form parsed
    EVERY manifest on every append/probe — O(versions) each, O(n²)
    over an index's lifetime). Since r11, TxTable._commit carries
    GEOMETRY_STAMP_KEYS forward, so any table stamped after the
    upgrade answers at the FIRST (newest) manifest. For legacy
    unstamped histories — where the walk is genuinely O(versions), and
    callers re-walk per geometry key per micro-batch/probe (ADVICE
    r10) — the result is memoized per (table path, latest_version,
    key): manifests are immutable per version and a new append bumps
    latest_version, so the cache can never serve a stale answer (a
    vacuum that deletes a stamped manifest without a new commit keeps
    the recorded value alive in cache, which is the value the index
    was in fact built with). The one way to defeat the memo is
    deleting a table and rebuilding a DIFFERENT one at the same path
    to the same version count within one session — that violates the
    immutable-manifest premise everywhere; call ``stamp_cache_clear``
    (or the path-scoped ``stamp_cache_drop``) after any such rebuild —
    ``index_fixtures_clear`` and every self-resetting demo query's
    rmtree do (ADVICE r11). A manifest
    below the vacuum retention
    window ends the walk (older ones are gone too). Returns None for a
    table written before stamping — validation is best-effort skipped."""
    latest = index.latest_version()
    ck = (str(index.path), latest, key)
    if ck in _STAMP_CACHE:
        return _STAMP_CACHE[ck]
    out = None
    for v in range(latest, 0, -1):
        try:
            m = index._manifest(v)
        except FileNotFoundError:
            break  # vacuumed below retention: nothing older survives
        val = (m.get("meta") or {}).get(key)
        if val is not None:
            out = int(val)
            break
    if len(_STAMP_CACHE) > 4096:  # bounded: local-session scratch only
        _STAMP_CACHE.clear()
    _STAMP_CACHE[ck] = out
    return out


def recorded_n_buckets(index) -> int | None:
    """The bucket count the index was BUILT with (``postings_append``
    stamps every append's manifest meta), so a probe can validate the
    caller's bucket arithmetic against the stored layout instead of
    silently filtering postings into the wrong buckets (ADVICE r9)."""
    return recorded_stamp(index, "n_buckets")


def _check_n_buckets(index, n_buckets: int, role: str) -> None:
    rec = recorded_n_buckets(index)
    if rec is not None and rec != n_buckets:
        raise ValueError(
            f"{role} with n_buckets={n_buckets} against an index built "
            f"with n_buckets={rec} at {index.path} — bucket arithmetic "
            "would disagree and postings would be filtered into the "
            "wrong buckets; pass the index's own bucket count"
        )


def postings_append(
    index,
    meta_table,
    postings: DataFrame,
    meta: DataFrame | None,
    n_buckets: int = N_BUCKETS,
    split_buckets: bool = True,
    bloom_key: str | None = None,
) -> None:
    """Land one batch's postings + meta row in the index TxTables.
    ``meta_table``/``meta`` may be None for index layouts that carry
    their corpus statistic denormalized on the posting instead (the
    shingle index rides ``n_sh`` on every row, so a contamination
    ratio needs no side table).

    Every append stamps ``n_buckets`` into the commit's manifest meta
    and REFUSES to append with a bucket count that disagrees with the
    recorded one — the probe-side validation (``bm25_probe_index`` /
    ``decontam_probe_index`` with ``index=``) reads the same stamp, so
    build and probe can never silently use different bucket arithmetic
    (ADVICE r9). ``n_buckets`` must match the value the postings were
    BUILT with (``postings_build``/``shingle_postings_build``).

    ``split_buckets=True`` writes one dir per present term-bucket with
    tight per-dir ``tb`` stats — the layout that makes a probe's
    ``where_in={"tb": buckets}`` prune to exactly the probed buckets'
    dirs. ``False`` lands the batch as a single mixed dir (still
    stats'd, still correct — every probe reads it until the next
    clustered OPTIMIZE re-sorts it into buckets); use it when append
    latency matters more than read amplification, the same trade the
    IVF index demo makes for its incremental batch."""
    # ``bloom_key`` (e.g. the doc-id column) additionally records a
    # per-dir Bloom on that column: postings are clustered by term
    # bucket, so a document's rows scatter across every dir and
    # id-range stats never prune an ERASURE (TxTable.delete_keys) —
    # the bloom is what lets a takedown of a few documents skip the
    # dirs that provably hold none of their postings. Opt-in: it costs
    # one read-back scan of each new dir at append time.
    _check_n_buckets(index, n_buckets, "appending")
    stamp = {"n_buckets": n_buckets}
    bloom = [bloom_key] if bloom_key else None
    if split_buckets:
        # one pass to materialize the batch + learn its present buckets
        # (n_buckets tiny rows), then per-bucket writes cut from the
        # cached frame — without the persist every bucket append would
        # re-run the tokenize/join lineage
        postings = postings.persist()
        try:
            present = sorted(
                r[0] for r in postings.select("tb").distinct().collect()
            )
            for b in present:
                index.append(
                    postings.where(F.col("tb") == b),
                    meta=stamp,
                    stats_cols=["tb"],
                    bloom_cols=bloom,
                )
        finally:
            postings.unpersist()
    else:
        index.append(postings, meta=stamp, stats_cols=["tb"], bloom_cols=bloom)
    if meta_table is not None and meta is not None:
        meta_table.append(meta)


def bm25_probe_index(
    reader: Callable[[list[int]], DataFrame] | DataFrame,
    meta: DataFrame,
    terms: Sequence[str],
    doc_id: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = N_BUCKETS,
    index=None,
) -> DataFrame:
    """BM25 top-k over a persisted postings index, reading only the
    query terms' buckets.

    ``reader`` is either a callable ``buckets -> DataFrame`` (e.g.
    ``lambda bs: idx.read(where_in={"tb": bs})`` so the TxTable turns
    the bucket list into dir-level pruning) or a postings DataFrame
    (filtered with isin — parquet row-group stats skip). The probed
    buckets come from the driver-side md5 twin: no Spark job, no
    collect. Per-term document frequency is ``count(*) OVER (PARTITION
    BY term)`` over the probed slice itself — a bucket holds EVERY
    posting of its terms, so the slice-local count IS the corpus df.
    Corpus stats are the sums of the (tiny, one row per append) meta
    table, taken on the driver from one ``collect()`` and inlined as
    literals. Scores therefore match a full-corpus BM25 exactly, at
    bucket-read cost, and the score is one SQL expression.

    Pass ``index=`` (the postings TxTable) to validate ``n_buckets``
    against the bucket count stamped at append time — a probe with the
    wrong count silently lands query terms in the wrong buckets and
    returns wrong scores, not an error (ADVICE r9)."""
    term_list = list(terms)
    if not term_list:
        raise ValueError("empty query-term list — nothing to probe")
    if index is not None:
        _check_n_buckets(index, n_buckets, "probing")
    buckets = sorted({term_bucket_py(t, n_buckets) for t in term_list})
    p = reader(buckets) if callable(reader) else reader.where(
        F.col("tb").isin(buckets)
    )
    p = p.where(F.col("term").isin(term_list))
    rows = meta.select("n_docs", "sum_dl").collect()
    n_docs = _sql_sum([r[0] for r in rows])
    sum_dl = _sql_sum([r[1] for r in rows])

    # idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avg_dl)) with
    # idf = ln((n_docs - nd + 0.5) / (nd + 0.5) + 1); the parentheses pin
    # the floating-point evaluation order, so scores are reproducible
    # bit for bit (1 - b and k1 + 1 are folded in Python)
    lit = _double_sql
    idf = f"ln(((({n_docs} - nd) + {lit(0.5)}) / (nd + {lit(0.5)})) + 1)"
    avg_dl = f"({sum_dl} / {n_docs})"
    norm = f"(tf + ((((dl * {lit(b)}) / {avg_dl}) + {lit(1 - b)}) * {lit(k1)}))"
    contrib = f"((({idf} * tf) * {lit(k1 + 1)}) / {norm})"
    return (
        p.withColumn("nd", F.expr("count(*) OVER (PARTITION BY term)"))
        .groupBy(doc_id)
        .agg(F.expr(f"sum({contrib})").alias("score"), F.count("*").alias("n_terms_hit"))
        .select(doc_id, "n_terms_hit", F.round("score", 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), doc_id)
        .limit(k)
    )


def _sql_sum(vals: list) -> str:
    """SQL literal of SUM(vals) with SUM's NULL rule (NULLs skipped,
    all-NULL or no rows gives NULL), for the integral or floating
    columns of a meta table."""
    vals = [v for v in vals if v is not None]
    if not vals:
        return "CAST(NULL AS BIGINT)"
    if all(isinstance(v, int) for v in vals):
        return f"CAST({sum(vals)} AS BIGINT)"
    return _double_sql(sum(vals))


def _double_sql(x: float) -> str:
    """The exact double ``x`` as SQL: repr is the shortest round-trip
    decimal and Spark's string-to-double cast is correctly rounded."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def shingle_postings_build(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Tokenize a document batch into SHINGLE postings — one row per
    distinct (doc, word-k-gram): ``(tb, shingle, <doc_id>, n_sh)`` with
    the document's total distinct-shingle count denormalized on (the
    ``dl``-on-the-posting trick again: a contamination RATIO needs no
    second corpus-wide table). Shingling (``dedup.shingles``: distinct,
    short docs yield one partial shingle) matches the corpus
    decontamination query bit-for-bit, so a probe against this index
    must reproduce the full-scan result. NULL-text docs are filtered
    here: the shingle kernel would otherwise map each to the ``['']``
    fallback shingle — one junk posting per doc that the DuckDB twins
    (whose unnest drops NULL) would never see."""
    from hapiy_etl_spark.io import spread
    from hapiy_etl_spark.operators.dedup import shingles

    # spread (io.py): the shingle construction + md5 term bucketing is
    # the heavy map stage, and index builds are fed either by a
    # single-partition scan or a single-file change-feed batch — fan it
    # out before the explode (guide §2.5)
    docs = spread(docs.where(F.col(text_col).isNotNull()), doc_id)
    sh = docs.select(
        F.col(doc_id).alias("__doc"),
        F.explode(shingles(F.col(text_col), k)).alias("__s"),
    )
    nsh = sh.groupBy("__doc").agg(F.count("*").alias("n_sh"))
    return sh.join(nsh, "__doc").select(
        term_bucket(F.col("__s"), n_buckets).alias("tb"),
        F.col("__s").alias("shingle"),
        F.col("__doc").alias(doc_id),
        "n_sh",
    )


def decontam_probe_index(
    reader: Callable[[list[int]], DataFrame] | DataFrame,
    bench: DataFrame,
    threshold: float = 0.2,
    doc_id: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    index=None,
) -> DataFrame:
    """Benchmark decontamination served from a persisted shingle index:
    flag indexed documents whose distinct-shingle overlap with the
    benchmark set reaches ``threshold``, WITHOUT re-reading or
    re-tokenizing the corpus — the train side is the narrow postings
    table; corpus text is never touched at probe time.

    ``bench`` is a DataFrame with one distinct benchmark shingle per
    row in column ``s`` (typically shingles of the eval suite —
    broadcast-tiny next to a training corpus). Its distinct shingles
    are pinned once with an eager ``localCheckpoint``, and the
    probed-bucket list (≤ n_buckets values) rides that pin as an
    observed ``collect_set``, so bench is evaluated once; a realistic
    benchmark covers every bucket — the index's win here is skipping
    the corpus rescan/re-shingle, and dir pruning is the BM25/keyword
    probes' win — but a narrow bench (single leaked document, one
    contaminated shard) does prune. ``reader`` as in
    ``bm25_probe_index``. n_sh rides on each posting, so the ratio's
    denominator is exact even though only bench-matching rows
    survive the join. ``index=`` validates ``n_buckets`` against the
    count stamped at append time, as in ``bm25_probe_index``."""
    from hapiy_etl_spark.operators.metrics import observed

    if index is not None:
        _check_n_buckets(index, n_buckets, "probing")
    bench, seen = observed(
        bench.where(F.col("s").isNotNull())
        .select(F.col("s").alias("shingle"))
        .distinct()
        .withColumn("tb", term_bucket(F.col("shingle"), n_buckets)),
        "decontam_bench_buckets",
        F.collect_set("tb").alias("buckets"),
    )
    bench = bench.localCheckpoint(eager=True)
    buckets = sorted(seen.get["buckets"])
    if not buckets:
        raise ValueError(
            "bench shingle set is empty (or all-NULL) — nothing to "
            "probe; an empty benchmark means no decontamination to run"
        )
    p = reader(buckets) if callable(reader) else reader.where(
        F.col("tb").isin(buckets)
    )
    return (
        p.join(F.broadcast(bench.select("shingle")), "shingle")
        .groupBy(doc_id)
        .agg(F.count("*").alias("n_hits"), F.first("n_sh").alias("n_sh"))
        .select(
            doc_id,
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_sh"), 6).alias("contamination"),
        )
        .where(F.col("contamination") >= threshold)
        .orderBy(F.col("contamination").desc(), doc_id)
    )
