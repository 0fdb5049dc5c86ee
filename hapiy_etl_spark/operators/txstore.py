"""Snapshot-versioned transactional parquet store with MERGE.

The reference's sink is a transactional KV (git_etl.ts:127-132,348 —
atomic upsert batches, readers never see partial writes). The lakehouse
answer is Delta/Iceberg MERGE (operators/table_formats.py gateway), but
this container ships no lakehouse jars — so this module provides the
same guarantees from first principles on plain parquet, the way Delta
itself does at the protocol level:

- every write is a NEW immutable snapshot directory; live data is named
  by a tiny JSON manifest, one per version, in ``_tx/``;
- a commit is the ATOMIC CREATION of the next manifest file
  (``os.open(O_CREAT|O_EXCL)``) — optimistic concurrency: two writers
  racing to version N+1 cannot both win, the loser re-reads and
  reapplies (exactly Delta's conflict protocol at file granularity);
- readers resolve the highest manifest and see a complete snapshot or
  nothing — no torn reads, and historical versions stay readable
  (time travel) until vacuumed.

Scale posture: the manifest holds directory names, never row data, so
commit cost is O(1) regardless of table size; MERGE is the oracle-
checked anti-join kernel from operators/upsert.py writing a
copy-on-write snapshot. Atomic-create works on POSIX and HDFS-likes;
on S3 the same protocol needs a conditional-put (documented seam, same
as every lakehouse).

Two decisions live in exactly one place each: which data dirs may hold
a row matching a filter (``TxTable._prune_dirs``, used by ``read`` and
by every rewrite), and how a rewrite commits (``TxTable._copy_on_write``,
the one optimistic copy-on-write loop behind ``merge``,
``delete_where``, ``delete_keys`` and ``optimize``).
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import operator
import os
import shutil
import time
import uuid
from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from hapiy_etl_spark.operators.metrics import observed
from hapiy_etl_spark.operators.similarity import _quote
from hapiy_etl_spark.operators.upsert import upsert_by_key

# Index-geometry manifest-meta keys (bucket moduli, band layout, sign
# bits) that build/probe validation reads via
# textindex.recorded_stamp. _commit carries the parent's newest values
# forward into every commit that doesn't set its own, exactly like the
# epoch/run replay state — so a stamp survives optimize+vacuum and the
# NEWEST manifest always answers the lookup (ADVICE r10).
GEOMETRY_STAMP_KEYS = (
    "n_buckets",
    "n_band_buckets",
    "num_hashes",
    "band_size",
    "portable",
    "bits",
)


def _epoch_us(v) -> int:
    """Datetime → integer epoch microseconds (ordering-preserving,
    JSON-safe, and NUMERIC — so the pruner's string-type conservatism
    never confuses it with user string data). Tz-aware values convert
    to UTC then drop the zone: stats are collected from a UTC-session
    Spark, so a tz-aware caller bound lands on the same scale."""
    if v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return int((v - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _stat_json_value(v):
    """Collected min/max → the manifest's JSON stats representation
    (``_DirMeta.decode``). Dates/timestamps become epoch-micro
    NUMBERS, not ISO strings: numeric stats keep the pruner's
    str-vs-nonstr conservatism intact (an ISO string is
    indistinguishable from a user's plain-string data, so a datetime
    filter could strict-compare against a string column's stats and
    silently prune rows Spark's casting row filter would match). NaN
    never enters the manifest — it admits no total order, so a NaN
    bound is recorded as unusable."""
    if isinstance(v, datetime.datetime):
        return _epoch_us(v)
    if isinstance(v, datetime.date):
        return _epoch_us(datetime.datetime(v.year, v.month, v.day))
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, (int, float, str)) or v is None:
        return v
    return None


def _stats_norm(v):
    """Caller-side bound → the manifest's stats representation."""
    if isinstance(v, datetime.datetime):
        return _epoch_us(v)
    if isinstance(v, datetime.date):
        return _epoch_us(datetime.datetime(v.year, v.month, v.day))
    return v


def _meta_pair(a, b):
    """Normalize a metadata pair under the pruning conservatism rules;
    returns (a, b) when they are provably comparable, else None —
    "unknown, keep the dir" (cross-type pairs Spark's row filter would
    COERCE and match; NaN admits no total order; missing values).
    Shared by _meta_cmp and _meta_eq so the rules cannot diverge."""
    a, b = _stats_norm(a), _stats_norm(b)
    if a is None or b is None:
        return None
    if isinstance(a, str) != isinstance(b, str):
        return None
    if (isinstance(a, float) and a != a) or (isinstance(b, float) and b != b):
        return None
    # int-vs-float pair beyond 2^53: Python compares exactly, but
    # Spark's row filter COERCES bigint to double first — e.g. probe
    # 2**53+1 vs recorded max float(2**53) is "no overlap" exactly yet
    # the coerced filter would match rows. Not provably comparable →
    # keep the dir (ADVICE r7).
    if isinstance(a, int) != isinstance(b, int):
        iv = a if isinstance(a, int) else b
        if abs(iv) > 2**53:
            return None
    return a, b


def _meta_cmp(a, b):
    """``a <= b`` verdict under the conservatism rules, or None."""
    pair = _meta_pair(a, b)
    if pair is None:
        return None
    try:
        return bool(pair[0] <= pair[1])
    except TypeError:
        return None


def _meta_eq(a, b):
    """``a == b`` verdict under the conservatism rules, or None."""
    pair = _meta_pair(a, b)
    if pair is None:
        return None
    return pair[0] == pair[1]


_INT_RANGES = {
    "tinyint": (-(2**7), 2**7 - 1),
    "smallint": (-(2**15), 2**15 - 1),
    "int": (-(2**31), 2**31 - 1),
    "bigint": (-(2**63), 2**63 - 1),
}
_BLOOM_TYPES = frozenset({"string", *_INT_RANGES})


def stats_prune_dirs(
    m: dict, dirs: Sequence[str], where_range: dict
) -> list[str]:
    """Subset of ``dirs`` that can intersect ``where_range`` by the
    manifest's recorded per-dir [min, max] stats — the dir-level half
    of ``read(where_range=...)`` exposed for callers that must prune a
    specific dir SUBSET rather than the whole snapshot (e.g. the
    join-MV's F_old ⋈ ΔD term prunes only the CONSUMED fact dirs by
    the dim delta's key bounds; ``read()`` always prunes all current
    dirs). Same conservatism as read(): a column without stats on a
    dir cannot prune it (another column still can), bounds are
    inclusive, None means an open end."""
    stats = m.get("stats", {})

    def _keep(d: str) -> bool:
        for k, (lo, hi) in where_range.items():
            rng = stats.get(d, {}).get(k)
            if rng is None or rng[0] is None:
                continue
            if hi is not None and _meta_cmp(rng[0], hi) is False:
                return False  # dir min > hi
            if lo is not None and _meta_cmp(lo, rng[1]) is False:
                return False  # dir max < lo
        return True

    return [d for d in dirs if _keep(d)]


def dirs_read(df: DataFrame) -> set[str]:
    """The TxTable data-dir names a DataFrame's planned scan touches —
    the shared idiom for pruning assertions (queries, growth tools,
    tests). Forces file listing; use at demo/test scale."""
    return {f.split("/data/")[1].split("/")[0] for f in df.inputFiles()}


def _sql_literal(v) -> str | None:
    """SQL text of exactly the value AND type ``F.lit(v)`` builds, or
    None when no text is exact. ``int`` is INT inside int32 and BIGINT
    (``L``) outside it, as py4j hands it to the JVM; ``float`` is
    ``CAST('<repr>' AS DOUBLE)``, as ``similarity._double_array_sql``
    spells it (also NaN and ±inf); strings escape ``\\`` and ``'``.
    No spelling: a ``datetime`` (``F.lit`` reads a naive one in the
    Python process's timezone), a date in the 1582 calendar gap
    (``F.lit`` shifts it by ten days), an int outside int64, a
    non-finite or exponent-form Decimal, and every other type."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return str(int(v))
        return f"{int(v)}L" if -(2**63) <= v < 2**63 else None
    if isinstance(v, float):
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, datetime.datetime):
        return None
    if isinstance(v, datetime.date):
        if datetime.date(1582, 10, 5) <= v <= datetime.date(1582, 10, 14):
            return None
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, decimal.Decimal) and v.is_finite() and v.as_tuple().exponent <= 0:
        return f"{v:f}BD"
    return None


def _row_filter(
    where: dict | None, where_in: dict | None, where_range: dict | None
):
    """The row-level half of ``TxTable.read``'s filters as ONE
    predicate: SQL text over backtick-quoted names, so a 50-key
    ``where_in`` is one parsed string and not 50 ``lit`` calls. A value
    :func:`_sql_literal` cannot spell keeps its ``F.lit`` term, and the
    predicate becomes one Column. None when there is no filter."""
    from pyspark.sql import functions as F

    def cmp(k: str, op: str, val):
        text = _sql_literal(val)
        if text is not None:
            return f"{_quote(k)} {op} {text}"
        compare = {"=": operator.eq, ">=": operator.ge, "<=": operator.le}[op]
        return compare(F.col(_quote(k)), F.lit(val))

    terms = [cmp(k, "=", val) for k, val in (where or {}).items()]
    for k, vals in (where_in or {}).items():
        texts = [_sql_literal(x) for x in vals]
        spelled = [t for t in texts if t is not None]
        rest = [x for x, t in zip(vals, texts) if t is None]
        term = f"{_quote(k)} IN ({', '.join(spelled)})" if spelled else None
        if rest:
            c = F.col(_quote(k)).isin(rest)
            term = c if term is None else F.expr(term) | c
        terms.append(term)
    for k, (lo, hi) in (where_range or {}).items():
        if lo is not None:
            terms.append(cmp(k, ">=", lo))
        if hi is not None:
            terms.append(cmp(k, "<=", hi))
    if not terms:
        return None
    if all(isinstance(t, str) for t in terms):
        return " AND ".join(f"({t})" for t in terms)
    return functools.reduce(
        operator.and_, (F.expr(t) if isinstance(t, str) else t for t in terms)
    )


#: retighten_blooms resize ceiling: 2**20 bits = 128 KiB raw (~171 KiB
#: base64). Blooms inline in the JSON manifest that every subsequent
#: read carries forward, so an uncapped ~10-bits/key resize over a
#: consolidated survivor dir with millions of keys would inflate every
#: manifest scan by megabytes (ADVICE r13). Above the cap the residual
#: FPR is accepted — still far tighter than the union-widened bitmap
#: being replaced.
BLOOM_RESIZE_CAP_BITS = 2**20


def _bloom_bits_for(n: int, cap: int = BLOOM_RESIZE_CAP_BITS) -> int:
    """Smallest power-of-two byte-aligned bit count giving ~10 bits per
    distinct key (the append sizing guidance), capped at ``cap``."""
    bits = 256
    while bits < 10 * max(int(n or 0), 1) and bits < cap:
        bits *= 2
    return bits


def _validate_bloom_geometry(bits: int, k: int) -> None:
    """bits/k validation of every bloom build (``_DirMeta``): bits like
    1001 must fail with a clear ValueError, not mid-build, and k <= 0
    must not silently record no bloom at all (ADVICE r15)."""
    if bits <= 0 or bits % 8:
        raise ValueError(f"bloom_bits must be a positive multiple of 8: {bits}")
    if k <= 0:
        raise ValueError(f"bloom_k must be positive: {k}")


#: bits one ``bitmap_construct_agg`` covers: Spark's bitmaps are a fixed
#: 4 KiB and reject positions outside [0, 32768), so a wider Bloom
#: aggregates one 32768-bit chunk of its positions per bitmap
_BITMAP_CHUNK_BITS = 32768


class _DirMeta:
    """THE per-dir metadata kernel: one SQL-text aggregate list and its
    decoder, for every write that records stats or blooms (``append``
    and the group commit observe it on their write, ``merge`` runs it
    over its pinned batch, ``optimize_clustered`` groups it by bucket
    over its spool, ``retighten_blooms`` runs it over one dir).

    - stats: ``min``/``max`` per column, recorded through
      ``_stat_json_value`` as ``[min, max]`` (``[None, None]`` when
      either bound is NULL or not JSON-safe);
    - blooms: per column and hash seed, the bit position
      ``pmod(xxhash64(col, seed), bits)`` is projected once per row
      (:meth:`project`), then one ``bitmap_construct_agg`` per
      32768-bit chunk reads it; the chunks are OR-ed on the driver into
      the ``b64``/``type``/``bits``/``k`` entry. Spark's own xxhash64
      over the column's NATIVE type is what the probe replays with a
      cast literal, so build and probe never disagree on
      representation. NULLs set no bit, so an all-NULL or
      empty dir records an all-zero bitmap that prunes every probe.

    All three aggregates are idempotent (a re-evaluated row cannot
    change them), and an empty input yields ``[None, None]`` and zero
    bitmaps, so observing them on a write that writes no row is exact."""

    def __init__(
        self,
        schema,
        stats_cols: Sequence[str] = (),
        blooms: dict[str, tuple[int, int]] | None = None,
    ):
        self.stats_cols = list(stats_cols)
        self.blooms: dict[str, tuple[str, int, int]] = {}
        for c, (bits, k) in (blooms or {}).items():
            typ = schema[c].dataType.simpleString()
            if typ not in _BLOOM_TYPES:
                # a bloom the probe can never consult would be 4 KB of
                # dead manifest weight carried forward forever
                raise ValueError(
                    f"bloom_cols[{c!r}] has type {typ}; blooms support "
                    f"{sorted(_BLOOM_TYPES)} (point lookups on other types "
                    "use stats_cols range pruning instead)"
                )
            _validate_bloom_geometry(int(bits), int(k))
            self.blooms[c] = (typ, int(bits), int(k))

    def __bool__(self) -> bool:
        return bool(self.stats_cols or self.blooms)

    def _positions(self) -> dict[str, str]:
        return {
            f"__p{i}_{s}": f"CASE WHEN {_quote(c)} IS NOT NULL"
            f" THEN pmod(xxhash64({_quote(c)}, {s}), {bits}) END"
            for i, (c, (_, bits, k)) in enumerate(self.blooms.items())
            for s in range(k)
        }

    def project(self, df: DataFrame, keep: Sequence[str] | None = None) -> DataFrame:
        """``df`` (only its ``keep`` columns, if given) plus one Bloom
        bit-position column per bloom column and hash seed: each row is
        hashed once per seed, however many chunks :meth:`aggs` read."""
        cols = ["*"] if keep is None else [_quote(c) for c in keep]
        return df.selectExpr(*cols, *[f"{e} AS {n}" for n, e in self._positions().items()])

    def aggs(self) -> list:
        """The aggregate list, over a frame from :meth:`project`."""
        from pyspark.sql import functions as F

        out = []
        for i, c in enumerate(self.stats_cols):
            out += [f"min({_quote(c)}) AS __mn{i}", f"max({_quote(c)}) AS __mx{i}"]
        ch = _BITMAP_CHUNK_BITS
        for i, (c, (_, bits, k)) in enumerate(self.blooms.items()):
            for s in range(k):
                for j in range(-(-bits // ch)):
                    out.append(
                        f"bitmap_construct_agg(CASE WHEN __p{i}_{s} DIV {ch} = {j}"
                        f" THEN __p{i}_{s} % {ch} END) AS __bl{i}_{s}_{j}"
                    )
        return [F.expr(a) for a in out]

    def observe(self, df: DataFrame, name: str):
        """``(df, observation)``: the kernel attached to whatever action
        materializes ``df`` (``operators/metrics.observed``); the
        returned frame has ``df``'s columns."""
        seen_df, seen = observed(self.project(df), name, *self.aggs())
        return seen_df.drop(*self._positions()), seen

    def decode(self, row) -> tuple[dict, dict]:
        """One aggregate row → ``(stats, blooms)`` manifest entries."""
        import base64

        stats = {}
        for i, c in enumerate(self.stats_cols):
            mn = _stat_json_value(row[f"__mn{i}"])
            mx = _stat_json_value(row[f"__mx{i}"])
            stats[c] = [mn, mx] if mn is not None and mx is not None else [None, None]
        blooms = {}
        ch = _BITMAP_CHUNK_BITS
        for i, (c, (typ, bits, k)) in enumerate(self.blooms.items()):
            chunks = []
            for j in range(-(-bits // ch)):
                n = min(bits - j * ch, ch) // 8
                acc = 0
                for s in range(k):
                    acc |= int.from_bytes(row[f"__bl{i}_{s}_{j}"][:n], "little")
                chunks.append(acc.to_bytes(n, "little"))
            blooms[c] = {
                "b64": base64.b64encode(b"".join(chunks)).decode("ascii"),
                "type": typ,
                "bits": bits,
                "k": k,
            }
        return stats, blooms

    def over(self, df: DataFrame, by: str | None = None):
        """The kernel as its own aggregate job over ``df``:
        ``(stats, blooms)``, or ``{group: (stats, blooms)}`` by ``by``."""
        keep = list(dict.fromkeys(([by] if by else []) + self.stats_cols))
        df = self.project(df, keep)
        if by is None:
            return self.decode(df.agg(*self.aggs()).collect()[0])
        return {
            int(r[by]): self.decode(r)
            for r in df.groupBy(by).agg(*self.aggs()).collect()
        }


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


class TxTable:
    """A snapshot-versioned parquet table (see the module docstring).

    Every write publishes one manifest through ``_commit``. Rewrites
    (``merge``, ``delete_where``, ``delete_keys``, ``optimize``) share
    one copy-on-write commit loop, ``_copy_on_write``, and pick the dirs
    they rewrite with the same method ``read`` prunes its scan with,
    ``_prune_dirs``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = Path(path)
        (self.path / "_tx").mkdir(parents=True, exist_ok=True)
        (self.path / "data").mkdir(parents=True, exist_ok=True)

    # -- snapshot resolution ------------------------------------------------
    def latest_version(self) -> int:
        vs = [int(p.stem[1:]) for p in (self.path / "_tx").glob("v*.json")]
        return max(vs) if vs else 0

    def _manifest(self, version: int) -> dict:
        p = self.path / "_tx" / f"v{version:08d}.json"
        if not p.exists():
            latest = self.latest_version()
            if 0 < version < latest:
                # versions are dense, so a missing lower version EXISTED
                # once — a vacuum aged it out. Same diagnosis the
                # streaming source gives (sources/txtable_source.py),
                # worded for the batch reader.
                raise FileNotFoundError(
                    f"version {version} at {self.path} was vacuumed "
                    f"(latest is v{latest}) — this read predates the "
                    "table's retention. Re-read from a retained "
                    "version, and keep vacuum retention above the "
                    "longest reader lag"
                )
            raise FileNotFoundError(f"no version {version} at {self.path}")
        return json.loads(p.read_text())

    def n_dirs(self, version: int | None = None) -> int:
        """Data-dir count of a snapshot — the small-files health metric
        compaction policies key on (one dir lands per append/micro-
        batch, so an always-on stream grows this without bound until
        someone compacts). 0 for an empty table."""
        v = self.latest_version() if version is None else version
        return len(self._manifest(v)["dirs"]) if v else 0

    def recorded_columns(self, version: int | None = None) -> list[str] | None:
        """Column names of the snapshot's NEWEST dir from the manifest's
        recorded per-dir schemas — a layout check that costs one JSON
        read instead of constructing a multi-dir DataFrame (parquet
        footer reads across every dir) just to look at ``.columns``
        (ADVICE r10). Returns None when the table is empty or the dir
        predates schema recording (fall back to ``read().columns``)."""
        v = self.latest_version() if version is None else version
        if not v:
            return None
        m = self._manifest(v)
        dirs = m.get("dirs") or []
        if not dirs:
            return None
        sch = (m.get("schemas") or {}).get(dirs[-1])
        if not sch:
            return None
        return [f["name"] for f in sch.get("fields", [])]

    def history(self) -> list[dict]:
        """Manifests that still exist, oldest first — after a vacuum the
        retained window starts above version 1, so this globs rather
        than assuming a gapless range."""
        vs = sorted(int(p.stem[1:]) for p in (self.path / "_tx").glob("v*.json"))
        return [self._manifest(v) for v in vs]

    def last_stream_epoch(self) -> int | None:
        """Most recent committed streaming epoch id. See
        ``last_stream_state`` for the full (epoch, run) pair."""
        return self.last_stream_state()[0]

    def last_stream_state(self) -> tuple[int | None, str | None]:
        """(epoch, run) of the newest committed streaming batch.

        Every commit carries the stream state forward in its meta
        (``_commit``), so for any table written by this version the
        FIRST manifest checked — the latest — answers: one file read
        per micro-batch, and optimize/restore/vacuum cannot erase
        replay-detection state. Older tables (pre-carry-forward) fall
        back to walking versions newest-first, parsing one manifest at
        a time rather than materializing the whole history."""
        vs = sorted(
            (int(p.stem[1:]) for p in (self.path / "_tx").glob("v*.json")),
            reverse=True,
        )
        for v in vs:
            meta = self._manifest(v).get("meta") or {}
            if "epoch" in meta:
                return meta["epoch"], meta.get("run")
        return None, None

    def read(
        self,
        version: int | None = None,
        merge_schema: bool = False,
        where: dict | None = None,
        where_range: dict | None = None,
        where_in: dict | None = None,
    ) -> DataFrame:
        """Resolve a snapshot. ``merge_schema=True`` unions the schemas
        of a multi-dir snapshot (appends may evolve the schema — added
        columns read as null on old dirs); without it Spark picks one
        file's schema and silently drops columns the others added.

        ``where={"col": value, ...}`` is MANIFEST-LEVEL partition
        pruning: data dirs appended with a partition spec
        (``append(..., partition=...)``) are skipped entirely when a
        recorded value contradicts the filter — at 100 TB the planner
        never even lists the pruned files, the Iceberg-style
        metadata-prune. Dirs without a spec (or without the filtered
        key) are always read, and the equality filter is re-applied
        row-level afterwards, so the result is exact regardless of how
        much was prunable. Equality filters also consult per-dir
        min/max STATS (``append(..., stats_cols=...)``): a dir whose
        recorded [min, max] cannot contain the value is skipped.

        ``where_range={"col": (lo, hi)}`` prunes on the same recorded
        stats with interval-intersection (inclusive bounds; pass None
        for an open end), then re-applies the range row-level — the
        metadata half of time-travel-free time-slicing: an
        append-mostly event table whose batches arrive roughly in time
        order prunes to the handful of dirs overlapping the window.

        ``where_in={"col": [v1, v2, ...]}`` is the BATCH point lookup:
        a dir is kept when ANY of the values might be present (spec /
        stats / bloom checks per value), and ``col IN (...)`` is
        re-applied row-level.

        Dir pruning for all three filters is :meth:`_prune_dirs` — the
        same rule every copy-on-write rewrite picks its dirs with. The
        row-level re-filter of all three is ONE ``where`` call with one
        SQL-text predicate (:func:`_row_filter`): each value is spelled
        as a literal of exactly the type ``F.lit`` gives it
        (:func:`_sql_literal`), and a value with no exact spelling, such
        as a naive datetime, keeps its ``F.lit`` term inside the same
        predicate, so a 50-key lookup costs about 25 py4j round trips
        to build, not about 260. The scan is built afresh per read: on
        4 vCPU a kept scan saved about 15 ms more per lookup in-process
        but did not move the benchmark's lookup latency beyond its
        noise."""
        v = self.latest_version() if version is None else version
        if v == 0:
            raise FileNotFoundError(f"empty table at {self.path}")
        for k, vals in (where_in or {}).items():
            if not vals:
                raise ValueError(f"where_in[{k!r}] is empty — nothing can match")
            if any(x is None for x in vals):
                raise ValueError(
                    f"where_in[{k!r}] contains None — SQL IN never matches "
                    "NULL; filter nulls explicitly"
                )
        m = self._manifest(v)
        dirs = self._prune_dirs(m, where, where_in, where_range)
        if not dirs:
            # every dir pruned: empty frame with the snapshot's schema
            df = self.read(v, merge_schema=merge_schema).limit(0)
        else:
            df = self._read_dirs(m, dirs, merge_schema)
        pred = _row_filter(where, where_in, where_range)
        return df if pred is None else df.where(pred)

    def _read_dirs(self, m: dict, dirs: list[str], merge_schema: bool) -> DataFrame:
        """Load a snapshot's data dirs honoring each dir's LAYOUT.

        A dir written by ``merge(partition_by=...)`` is Hive-partitioned
        inside; a dir from append/overwrite is flat. Spark's multi-path
        parquet read refuses to mix the two (CONFLICTING_DIRECTORY_
        STRUCTURES), so partitioned dirs are read one-by-one with their
        own ``basePath`` and unioned by name with the flat group.
        Partitioned dirs are read with the EXPLICIT schema recorded at
        write time: Hive partition values round-trip through directory
        names and Spark would otherwise re-infer their type (a string
        repo '012' silently becomes integer 12) — the stored schema pins
        the written types, and the trailing select pins column order so
        the snapshot schema is stable across layouts.

        The flat group is read with its recorded schema too when every
        flat dir records the same one and ``merge_schema`` is off: that
        is the schema parquet inference would find (Spark reads every
        file-source column as nullable either way), and it saves the
        1-task footer-reading job inference submits at plan time.
        Missing or differing recorded schemas keep inference."""
        from pyspark.sql.types import StructType

        layouts = m.get("layouts") or {}
        schemas = m.get("schemas") or {}
        flat = [d for d in dirs if not layouts.get(d)]
        parted = [d for d in dirs if layouts.get(d)]
        frames = []
        if flat:
            reader = self.spark.read
            flat_schemas = [schemas.get(d) for d in flat]
            if merge_schema:
                reader = reader.option("mergeSchema", "true")
            elif flat_schemas[0] is not None and all(
                sch == flat_schemas[0] for sch in flat_schemas
            ):
                reader = reader.schema(StructType.fromJson(flat_schemas[0]))
            frames.append(
                reader.parquet(*[str(self.path / "data" / d) for d in flat])
            )
        for d in parted:
            p = str(self.path / "data" / d)
            r = self.spark.read.option("basePath", p)
            sch = schemas.get(d)
            if sch is not None:
                r = r.schema(StructType.fromJson(sch))
            if merge_schema:
                r = r.option("mergeSchema", "true")
            f = r.parquet(p)
            if sch is not None:
                f = f.selectExpr(*[_quote(fld["name"]) for fld in sch["fields"]])
            frames.append(f)
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f, allowMissingColumns=merge_schema)
        return df

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        keys: Sequence[str] | None = None,
    ) -> DataFrame:
        """Change-data-feed read: the rows ADDED between two versions,
        resolved as a manifest dir-set difference — no row-level diff
        job, no change-log infra; reading the delta of a 100 TB table
        touches only the appended files. ``from_version=0`` returns
        the whole ``to_version`` snapshot (everything is new).

        When a dir of ``from_version`` is gone in ``to_version`` (an
        overwrite/merge/delete/restore/optimize rewrote the snapshot),
        the file delta is not row-meaningful. With ``keys`` the read
        FALLS BACK to a row-level diff of the two snapshots
        (operators/upsert.py:table_diff — one full-outer join on the
        key): if the span only ADDED rows — the common
        append→OPTIMIZE→append case, where the rewrite was pure
        compaction — the inserted rows come back exactly as the fast
        path would have returned them, so CDC consumers survive an
        OPTIMIZE mid-span. A span that UPDATED or DELETED rows is not
        representable as rows-added and still raises (use table_diff
        directly for the op-tagged I/U/D feed). Without ``keys`` a
        rewritten span raises immediately.

        Keyed-fallback precondition (ENFORCED): the row diff sees KEYS,
        so it is only defined when both snapshots are key-unique — an
        appended physical duplicate would be invisible to it, and a
        same-key-different-values duplicate makes the join ambiguous.
        The fallback counts rows vs distinct keys on both snapshots and
        raises on violation (merge-fed and checked_append-fed tables
        always pass; plain-append tables with duplicate keys must use
        table_diff or a snapshot resync)."""
        to_v = self.latest_version() if to_version is None else to_version
        to_dirs = self._manifest(to_v)["dirs"]
        if from_version == 0:
            return self.read(to_v)
        from_dirs = set(self._manifest(from_version)["dirs"])
        gone = from_dirs - set(to_dirs)
        if gone and keys is not None:
            from pyspark.sql import functions as F

            from hapiy_etl_spark.operators.upsert import table_diff

            new_snap = self.read(to_v)
            old_snap = self.read(from_version)
            # the row diff resolves BY KEY, so it is only meaningful on
            # key-unique snapshots: a physical duplicate (same key,
            # identical values, appended by a plain append) is invisible
            # to it, and a duplicate with DIFFERENT values makes the
            # join ambiguous. Enforce the precondition instead of
            # documenting it (ADVICE r7) — two tiny count jobs on this
            # rare recovery path, never on the fast path.
            for side, snap in (("old", old_snap), ("new", new_snap)):
                tot = snap.count()
                uniq = snap.select(*keys).distinct().count()
                if tot != uniq:
                    raise ValueError(
                        f"keys={list(keys)} are not unique in the {side} "
                        f"snapshot ({tot} rows, {uniq} distinct keys) — "
                        "the keyed CDF fallback is only defined for "
                        "key-unique tables (merge-fed or "
                        "checked_append-fed); use table_diff directly or "
                        "resync from a snapshot read"
                    )
            diff = table_diff(old_snap, new_snap, keys)
            mutated = diff.where(F.col("op") != "I")
            if mutated.limit(1).count():
                raise ValueError(
                    f"history between v{from_version} and v{to_v} updated or "
                    "deleted rows — a rows-added CDF cannot represent it; "
                    "use table_diff on the two snapshots for the op-tagged "
                    "I/U/D feed"
                )
            return diff.drop("op").select(*new_snap.columns)
        if gone:
            raise ValueError(
                f"non-append history between v{from_version} and v{to_v} "
                f"(dirs rewritten: {sorted(gone)}); row-level CDF is only "
                "defined over append-only spans — pass keys= to fall back "
                "to a row-level diff, or use table_diff on the two "
                "snapshots instead"
            )
        new = [d for d in to_dirs if d not in from_dirs]
        if not new:
            df = self.read(to_v)
            return df.limit(0)
        return self._read_dirs(self._manifest(to_v), new, merge_schema=False)

    # -- commit protocol ----------------------------------------------------
    def _write_data_dir(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None = None,
        meta: _DirMeta | None = None,
    ) -> tuple[str, dict, dict]:
        """Write ``df`` as a new (unpublished) data dir; returns its name
        and the ``(stats, blooms)`` entries of ``meta``, observed on the
        write itself (``operators/metrics.observed``) — no job of its
        own and no read-back. The metrics cover exactly the written
        rows: the plan is evaluated once, and the write's result tasks
        merge their accumulators once per partition, from the attempt
        the output commit coordinator let commit."""
        d = f"s-{uuid.uuid4().hex[:12]}"
        if meta:
            df, seen = meta.observe(df, f"txmeta-{d}")
        w = df.write
        if partition_by:
            # Hive-style layout INSIDE the snapshot dir: reads of this
            # snapshot get Spark's native PartitionFilters pruning on
            # these columns — the complement of the manifest-level
            # dir pruning appends get via ``append(partition=...)``
            # (that one skips whole dirs without listing; this one
            # prunes subdirectories of a rewritten snapshot).
            w = w.partitionBy(*partition_by)
        w.parquet(str(self.path / "data" / d))
        return (d, *meta.decode(seen.get)) if meta else (d, {}, {})

    def _commit(
        self,
        parent: int,
        dirs: list[str],
        op: str,
        meta: dict | None = None,
        maps: dict | None = None,
    ) -> int:
        """Atomically create manifest parent+1; raise on a lost race.
        ``maps`` holds the per-dir metadata maps (see ``_DIR_MAPS``).

        Streaming replay state (``epoch``/``run`` meta keys) and index
        geometry stamps (``GEOMETRY_STAMP_KEYS``) are carried forward
        from the parent into every commit that does not set its own —
        so optimize/merge/restore/delete cannot strand the exactly-once
        detection OR the build/probe geometry validation behind
        manifests that vacuum may drop (ADVICE r10: an aggressive
        ``vacuum_keep_last`` after a stamp-less optimize deleted every
        stamped append manifest and validation silently disabled).
        Carry-forward also makes ``recorded_stamp`` O(1) on any table
        whose history ever stamped: the NEWEST manifest always answers."""
        return self._publish_manifest(
            self._build_manifest(parent, dirs, op, meta, maps)
        )

    # Per-dir metadata maps a manifest carries, in manifest order:
    # - partitions: declared constant column values (append(partition=));
    # - layouts/schemas: Hive partition columns and the written schema —
    #   read() needs both to load mixed-layout snapshots and to pin
    #   partition-column types (Delta keeps the same facts in its
    #   transaction log for the same reason);
    # - stats: per-column [min, max] (Iceberg-style file statistics), so
    #   pruned reads skip dirs without listing a single file;
    # - blooms: per-column Bloom filters (point-lookup pruning on
    #   unordered keys), 4 KB base64 each.
    _DIR_MAPS = ("partitions", "layouts", "schemas", "stats", "blooms")

    def _build_manifest(
        self,
        parent: int,
        dirs: list[str],
        op: str,
        meta: dict | None = None,
        maps: dict | None = None,
    ) -> dict:
        """The manifest CONTENT of version parent+1, fully determined
        (meta/geometry carry-forward applied) but not yet published —
        so a cross-table group commit can journal the exact bytes both
        tables will publish, and recovery can re-publish them verbatim
        (``txgroup_commit_appends``). Empty maps are left out."""
        version = parent + 1
        meta = dict(meta) if meta else {}
        if parent:
            pm = self._manifest(parent).get("meta") or {}
            if "epoch" not in meta and "epoch" in pm:
                meta["epoch"] = pm["epoch"]
                if "run" in pm:
                    meta["run"] = pm["run"]
            for k in GEOMETRY_STAMP_KEYS:
                if k not in meta and k in pm:
                    meta[k] = pm[k]
        maps = maps or {}
        return {
            "version": version,
            "parent": parent,
            "op": op,
            "dirs": dirs,
            "ts": time.time(),
            **({"meta": meta} if meta else {}),
            **{k: maps[k] for k in self._DIR_MAPS if maps.get(k)},
        }

    def _publish_manifest(self, manifest: dict) -> int:
        """Atomically create the manifest file; raise on a lost race."""
        version = manifest["version"]
        p = self.path / "_tx" / f"v{version:08d}.json"
        # write the FULL content to a temp name first, then hard-link to
        # the final name: link() is atomic AND exclusive, so a reader
        # can never observe a partial manifest and a crash before the
        # link leaves only a temp file (swept by vacuum), never a
        # half-written version that would wedge the table.
        tmp = self.path / "_tx" / f".tmp-{uuid.uuid4().hex[:12]}"
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, p)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} already committed by another writer"
            ) from None
        finally:
            tmp.unlink(missing_ok=True)
        return version

    # -- write operations ---------------------------------------------------
    @classmethod
    def _dir_maps(cls, m: dict, dirs: list[str]) -> dict[str, dict]:
        """Every per-dir map of manifest ``m`` (``_DIR_MAPS``) restricted
        to ``dirs`` — the carry-forward for commits that re-reference a
        parent's data dirs."""
        out = {}
        for k in cls._DIR_MAPS:
            v = m.get(k) or {}
            out[k] = {d: v[d] for d in dirs if d in v}
        return out

    @staticmethod
    def _union_stats(all_stats: dict, dirs: list[str]) -> dict:
        """Conservative [min, max] per column over several dirs' stats —
        valid bounds for any dir holding a SUBSET of their rows (the
        rewritten survivors of a delete, the compacted dir of an
        optimize). Only columns recorded on EVERY input dir survive;
        unusable or mixed-type ranges collapse to [None, None]
        (recorded-but-unusable, so readers stay conservative)."""
        if not dirs or not all(d in all_stats for d in dirs):
            return {}
        union: dict = {}
        for d in dirs:
            for col, rng in all_stats[d].items():
                if rng[0] is None:
                    union[col] = [None, None]
                elif col not in union:
                    union[col] = list(rng)
                elif union[col][0] is not None:
                    try:
                        union[col] = [
                            min(union[col][0], rng[0]),
                            max(union[col][1], rng[1]),
                        ]
                    except TypeError:  # mixed types across dirs
                        union[col] = [None, None]
        return {
            c: r for c, r in union.items() if all(c in all_stats[d] for d in dirs)
        }

    @staticmethod
    def _union_blooms(all_blooms: dict, dirs: list[str]) -> dict:
        """OR-union of several dirs' blooms — a valid (superset) bloom
        for any dir holding a subset of their rows (delete survivors,
        an optimize compaction). Only columns recorded on EVERY input
        dir with IDENTICAL geometry and type survive (bitmaps of
        different geometry cannot be merged)."""
        import base64

        if not dirs or not all(d in all_blooms for d in dirs):
            return {}
        out: dict = {}
        first = all_blooms[dirs[0]]
        for col, entry in first.items():
            sig = (entry.get("type"), entry.get("bits"), entry.get("k"))
            buf = bytearray(base64.b64decode(entry["b64"]))
            ok = True
            for d in dirs[1:]:
                other = all_blooms[d].get(col)
                if other is None or (
                    other.get("type"),
                    other.get("bits"),
                    other.get("k"),
                ) != sig:
                    ok = False
                    break
                ob = base64.b64decode(other["b64"])
                for i in range(len(buf)):
                    buf[i] |= ob[i]
            if ok:
                out[col] = {**entry, "b64": base64.b64encode(bytes(buf)).decode("ascii")}
        return out

    def _merge_meta(
        self,
        m: dict,
        touched: list[str],
        batch: DataFrame,
    ) -> tuple[dict, dict]:
        """``(stats, blooms)`` for a MERGE's rewritten dir. Every merged
        row is either a touched-dir survivor (verbatim, key unmatched) or
        a batch row (verbatim, upsert winner), so ``union(touched
        ranges) ∪ batch range`` and ``OR(touched blooms) | bloom(batch)``
        bound the dir for EVERY column, updates included (possibly
        wider than actual — conservative, never wrong). Without this a
        merge silently dropped pruning on exactly the tables that merge
        most (VERDICT r7). The batch side is one kernel aggregate over
        the (pinned) batch, for exactly what this parent records. Per
        column:

        - touched dirs must ALL record it (``_union_stats`` /
          ``_union_blooms`` with identical bloom geometry; a missing dir
          makes the true range unknowable → nothing recorded); when the
          merge pruned every dir away (``touched == []``) the batch is
          the whole dir: stats bound the columns the parent records
          anywhere, and bloom geometry is inherited from the newest
          parent dir blooming the column;
        - an unusable carried or batch range ([None, None] — NaN bound,
          non-JSON type, all-NULL batch column) records [None, None];
        - a column absent from the batch (schema-evolution merge)
          contributes only NULLs — the touched union alone bounds it;
        - cross-type min/max (str vs number) collapses to [None, None];
        - a batch column whose type differs from the recorded bloom
          type is not provably hash-consistent → no bloom."""
        import base64

        all_stats = m.get("stats") or {}
        if touched:
            sbase: dict = self._union_stats(all_stats, touched)
            bbase = self._union_blooms(m.get("blooms") or {}, touched)
        else:
            sbase = {c: None for d in m.get("dirs", []) for c in all_stats.get(d) or {}}
            bbase = {}
            for d in m.get("dirs", []):  # later dirs overwrite: newest wins
                for c, e in ((m.get("blooms") or {}).get(d) or {}).items():
                    zero = base64.b64encode(bytes(int(e["bits"]) // 8))
                    bbase[c] = {**e, "b64": zero.decode("ascii")}
        types = {f.name: f.dataType.simpleString() for f in batch.schema.fields}
        want = _DirMeta(
            batch.schema,
            [c for c in sbase if c in types],
            {
                c: (int(e["bits"]), int(e["k"]))
                for c, e in bbase.items()
                if types.get(c) == e["type"]
            },
        )
        bstats, bblooms = want.over(batch) if want else ({}, {})
        stats: dict = {}
        for c, rng in sbase.items():
            if c not in types:
                if rng is not None:
                    stats[c] = rng
                continue
            brng = bstats[c]
            if rng is None:
                stats[c] = brng
            elif rng[0] is None or brng[0] is None:
                stats[c] = [None, None]
            else:
                try:
                    stats[c] = [min(rng[0], brng[0]), max(rng[1], brng[1])]
                except TypeError:
                    stats[c] = [None, None]
        blooms: dict = {}
        for c, entry in bbase.items():
            if c not in types:
                blooms[c] = entry
            elif c in want.blooms:
                a = int.from_bytes(base64.b64decode(entry["b64"]), "little")
                b = int.from_bytes(base64.b64decode(bblooms[c]["b64"]), "little")
                buf = (a | b).to_bytes(int(entry["bits"]) // 8, "little")
                blooms[c] = {**entry, "b64": base64.b64encode(buf).decode("ascii")}
        return stats, blooms

    @staticmethod
    def _newest_blooms(m: dict) -> dict:
        """{col: bloom entry of the newest dir of ``m`` blooming it},
        newest dir's columns first — the geometry a clustered rewrite
        inherits."""
        out: dict = {}
        for d in reversed(m.get("dirs", [])):
            for col, entry in ((m.get("blooms") or {}).get(d) or {}).items():
                out.setdefault(col, entry)
        return out

    # Default Bloom geometry: 32768 bits (4 KB per column per dir in
    # the manifest, base64) x 5 hashes ~= 1% false positives at ~3400
    # distinct keys per dir, degrading gracefully above — size bits to
    # ~10x the expected distinct keys per dir (append(bloom_bits=...)).
    # Geometry is RECORDED in each bloom entry and the probe replays
    # the recorded values, so tables written with any geometry stay
    # readable. A false positive only costs an unnecessary dir read —
    # never correctness.
    BLOOM_BITS = 32768
    BLOOM_K = 5

    @staticmethod
    def _bloom_probe_ok(bloom: dict, val) -> bool:
        """A probe literal is only hash-replayable when its Python type
        maps onto the RECORDED column type (and, for ints, fits the
        type's range — under ANSI an overflowing cast RAISES; an
        out-of-range probe can simply skip the bloom: the value cannot
        be in the column anyway, and stats/row filtering stay exact)."""
        typ = bloom.get("type", "")
        return (isinstance(val, str) and typ == "string") or (
            isinstance(val, int)
            and not isinstance(val, bool)
            and typ in _INT_RANGES
            and _INT_RANGES[typ][0] <= val <= _INT_RANGES[typ][1]
        )

    def _bloom_positions_many(
        self, entries: list[tuple[dict, object]]
    ) -> list[list[int] | None]:
        """Probe positions for MANY (bloom entry, literal) pairs in ONE
        1-row local Spark job — the vectorized form of the per-probe
        round-trip (a batch of point lookups paid one driver job per
        key, VERDICT r7). Each pair replays exactly the build-side hash
        by casting its literal to the entry's recorded type (Spark's
        xxhash64 is type-sensitive; a Python re-implementation would
        silently diverge). A pair whose probe is not provably
        type-consistent yields None (bloom skipped, never pruned on).

        Probes are DATA-parallel, not expression-parallel (r10; the r8
        chunked-literal form kept each job small but still built ~4
        Column objects per probe — a 1000-key where_in spent ~25 s of
        pure py4j expression construction before any job ran): the
        probe values become ROWS of one tiny local DataFrame per
        recorded geometry, hashed by k constant column expressions —
        O(1) expressions and O(geometries) driver round-trips no matter
        how many keys are probed. The value column is created AT the
        recorded type, so xxhash64 sees exactly the build-side
        representation (same native-type contract as the cast-literal
        form it replaces)."""
        from pyspark.sql import functions as F

        results: list[list[int] | None] = [None] * len(entries)
        groups: dict[tuple, list[tuple[int, object]]] = {}
        for j, (bl, val) in enumerate(entries):
            if not self._bloom_probe_ok(bl, val):
                continue
            key = (
                bl.get("type", ""),
                int(bl.get("bits", self.BLOOM_BITS)),
                int(bl.get("k", self.BLOOM_K)),
            )
            groups.setdefault(key, []).append((j, val))
        for (typ, bits, k), items in groups.items():
            rows = self.spark.createDataFrame(
                items, f"j bigint, v {typ}"
            ).select(
                "j",
                *[
                    F.pmod(F.xxhash64(F.col("v"), F.lit(i)), F.lit(bits)).alias(
                        f"p{i}"
                    )
                    for i in range(k)
                ],
            ).collect()
            for r in rows:
                results[int(r["j"])] = [int(r[f"p{i}"]) for i in range(k)]
        return results

    def _bloom_positions(self, bloom: dict, val) -> list[int] | None:
        """Single-probe convenience over :meth:`_bloom_positions_many`."""
        return self._bloom_positions_many([(bloom, val)])[0]

    # decoded bloom buffers, keyed by their b64 text: a batch erasure
    # probes the same dir's bloom once per key (O(dirs x keys) decodes
    # at delete_keys' 100k cap without this); manifests are immutable
    # so a b64 string always decodes to the same buffer. Bounded local
    # scratch, cleared wholesale when it grows past ~6 MB.
    _BLOOM_BUFS: dict[str, bytes] = {}

    @staticmethod
    def _bloom_test(b64: str, positions: list[int]) -> bool:
        """True = might contain."""
        import base64

        buf = TxTable._BLOOM_BUFS.get(b64)
        if buf is None:
            if len(TxTable._BLOOM_BUFS) > 1024:
                TxTable._BLOOM_BUFS.clear()
            buf = base64.b64decode(b64)
            TxTable._BLOOM_BUFS[b64] = buf
        return all((buf[p // 8] >> (p % 8)) & 1 for p in positions)

    def _prune_dirs(
        self,
        m: dict,
        where: dict | None = None,
        where_in: dict | None = None,
        where_range: dict | None = None,
    ) -> list[str]:
        """The dirs of manifest ``m`` that may hold a row matching
        ``where`` (equalities), ``where_in`` (any listed value per
        column) and ``where_range`` (inclusive intervals) — THE
        dir-pruning rule, shared by ``read`` and by the rewrites
        (``merge(prune_col=)``, ``delete_where(range_hint=)``,
        ``delete_keys``) so a scan and an erasure can never disagree
        about which dir may hold a key. No filter keeps every dir.

        A point value excludes a dir when its partition spec, its
        [min, max] stats or its bloom proves the value absent. Bloom
        positions are hashed once per (column, value, recorded
        geometry) — not per dir — and ALL of them in one 1-row local
        job, so fetching or erasing a thousand ids costs one driver
        round-trip, not a thousand. The range half is
        :func:`stats_prune_dirs`. Metadata that is missing or not
        provably comparable keeps the dir."""
        dirs = m["dirs"]
        points = list((where or {}).items()) + [
            (k, val) for k, vals in (where_in or {}).items() for val in vals
        ]
        if points:
            specs = m.get("partitions") or {}
            stats = m.get("stats") or {}
            blooms = m.get("blooms") or {}
            probes: dict[tuple, dict] = {}
            for k, val in points:
                for d in dirs:
                    bl = blooms.get(d, {}).get(k)
                    if bl is not None:
                        key = (k, val, bl["type"], bl.get("bits"), bl.get("k"))
                        probes.setdefault(key, bl)
            bloom_pos = dict(
                zip(
                    probes,
                    self._bloom_positions_many(
                        [(bl, key[1]) for key, bl in probes.items()]
                    ),
                )
            )

            def _excludes(d: str, k: str, val) -> bool:
                spec_val = specs.get(d, {}).get(k)
                if spec_val is not None and _meta_eq(spec_val, val) is False:
                    return True
                rng = stats.get(d, {}).get(k)
                if rng is not None and rng[0] is not None:
                    below = _meta_cmp(rng[0], val)  # rng[0] <= val ?
                    above = _meta_cmp(val, rng[1])  # val <= rng[1] ?
                    if below is False or above is False:
                        return True
                bl = blooms.get(d, {}).get(k)
                if bl is not None:
                    pos = bloom_pos.get(
                        (k, val, bl["type"], bl.get("bits"), bl.get("k"))
                    )
                    if pos is not None and not self._bloom_test(bl["b64"], pos):
                        return True  # bloom proves the key absent
                return False

            dirs = [
                d
                for d in dirs
                if not any(_excludes(d, k, val) for k, val in (where or {}).items())
                # where_in: drop d only when no listed value can be in it
                and not any(
                    all(_excludes(d, k, val) for val in vals)
                    for k, vals in (where_in or {}).items()
                )
            ]
        return stats_prune_dirs(m, dirs, where_range) if where_range else dirs

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        d, _, _ = self._write_data_dir(df)
        return self._commit(
            self.latest_version(),
            [d],
            "overwrite",
            meta,
            {"schemas": {d: df.schema.jsonValue()}},
        )

    def append(
        self,
        df: DataFrame,
        meta: dict | None = None,
        partition: dict | None = None,
        stats_cols: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits: int | None = None,
        bloom_k: int | None = None,
    ) -> int:
        """New version = parent's dirs + one new dir — no data rewrite.
        ``meta`` lands in the manifest (e.g. a streaming epoch id for
        exactly-once replay detection). ``partition`` declares constant
        column values for every row of this batch (e.g.
        ``{"lang": "en"}``); recorded in the manifest so
        ``read(where=...)`` can prune the dir without listing it. The
        declaration is trusted, like a Hive partition directory — write
        through validate_split/checked_append when the upstream isn't.
        ``stats_cols`` records this batch's per-column [min, max] in the
        manifest (computed from the WRITTEN rows, so it is never a
        trusted declaration): ``read(where=..., where_range=...)`` then
        skips dirs whose range cannot match — Iceberg-style file
        statistics at dir granularity. ``bloom_cols`` additionally
        records a 4 KB Bloom filter per column — the POINT-LOOKUP
        complement of min/max for unordered keys (uuids, content
        hashes): ``read(where={key: v})`` skips every dir whose bloom
        proves the key absent, so finding one document in a 100 TB
        corpus touches ~one dir instead of all of them. A false positive
        costs an extra dir read, never a wrong answer.

        Stats and blooms are aggregates OBSERVED on the write itself
        (``_DirMeta`` through ``_write_data_dir``), the way Delta
        collects per-file stats during the write: the append is one
        Spark job, with no read-back of the new dir. They describe
        exactly the committed rows even for a non-deterministic plan
        (sample, rand, unordered limit, task retry): the plan is
        evaluated once, and the write's result tasks merge their metric
        accumulators once per partition, from the attempt the output
        commit coordinator let commit — so a pruned read can never drop
        a written row (ADVICE r7)."""
        d, stats_entry, bloom_entry = self._stage_append(
            df, stats_cols, bloom_cols, bloom_bits, bloom_k
        )
        while True:
            try:
                return self._publish_manifest(
                    self._append_manifest(
                        d, df.schema.jsonValue(), meta, partition,
                        stats_entry, bloom_entry,
                    )
                )
            except ConcurrentCommitError:
                continue  # re-resolve parent; the spooled dir is reusable

    def _stage_append(
        self,
        df: DataFrame,
        stats_cols: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits: int | None = None,
        bloom_k: int | None = None,
    ) -> tuple[str, dict, dict]:
        """Spool the batch to a data dir with its stats/blooms observed
        on the write, WITHOUT committing — the staging half of
        ``append``, shared by the cross-table group commit (an
        unpublished dir is invisible to readers and swept by vacuum if
        never referenced). Bad bloom columns or geometry raise before
        anything is written."""
        geom = (int(bloom_bits or self.BLOOM_BITS), int(bloom_k or self.BLOOM_K))
        blooms = dict.fromkeys(bloom_cols or (), geom)
        return self._write_data_dir(df, meta=_DirMeta(df.schema, stats_cols or (), blooms))

    def _append_manifest(
        self,
        d: str,
        schema_json: dict,
        meta: dict | None,
        partition: dict | None,
        stats_entry: dict | None,
        bloom_entry: dict | None,
    ) -> dict:
        """The append manifest CONTENT against the CURRENT latest
        parent (unpublished) — the resolve-and-build half of ``append``,
        shared by the cross-table group commit."""
        parent = self.latest_version()
        pm = self._manifest(parent) if parent else {"dirs": []}
        maps = self._dir_maps(pm, pm["dirs"])
        if partition:
            maps["partitions"][d] = dict(partition)
        if stats_entry:
            maps["stats"][d] = stats_entry
        if bloom_entry:
            maps["blooms"][d] = bloom_entry
        maps["schemas"][d] = schema_json
        return self._build_manifest(parent, pm["dirs"] + [d], "append", meta, maps)

    def _copy_on_write(
        self,
        op: str,
        max_retries: int,
        rewrite: Callable[[dict, list[str]], DataFrame],
        where_in: dict | None = None,
        where_range: dict | None = None,
        batch: DataFrame | None = None,
        partition_by: Sequence[str] | None = None,
    ) -> int:
        """THE optimistic copy-on-write commit loop behind ``merge``,
        ``delete_where``, ``delete_keys`` and ``optimize``: resolve the
        parent, take the touched dirs from :meth:`_prune_dirs`, write
        ``rewrite(manifest, touched)`` as ONE replacement dir, carry the
        untouched dirs and their metadata forward, and commit. With no
        ``batch`` to land, a rewrite that touches no dir changes nothing:
        it commits nothing and returns the parent version.

        The replacement dir's stats and blooms bound its rows
        conservatively: its rows are a subset of the touched dirs' rows
        (union of their ranges, OR of their blooms), plus ``batch``'s
        rows for a merge (``_merge_meta``). A lost
        race removes the spooled dir and retries against the new
        parent, so a concurrent commit's rows are rewritten, not lost."""
        for _ in range(max_retries):
            parent = self.latest_version()
            m = self._manifest(parent) if parent else {"dirs": []}
            touched = self._prune_dirs(m, where_in=where_in, where_range=where_range)
            if not touched and batch is None:
                return parent
            out = rewrite(m, touched)
            d, _, _ = self._write_data_dir(out, partition_by)
            untouched = [x for x in m["dirs"] if x not in set(touched)]
            maps = self._dir_maps(m, untouched)
            maps["schemas"][d] = out.schema.jsonValue()
            if partition_by:
                maps["layouts"][d] = list(partition_by)
            if batch is None:
                stats = self._union_stats(m.get("stats") or {}, touched)
                blooms = self._union_blooms(m.get("blooms") or {}, touched)
            else:
                stats, blooms = self._merge_meta(m, touched, batch)
            if stats:
                maps["stats"][d] = stats
            if blooms:
                maps["blooms"][d] = blooms
            try:
                return self._commit(parent, untouched + [d], op, maps=maps)
            except ConcurrentCommitError:
                shutil.rmtree(self.path / "data" / d, ignore_errors=True)
        raise ConcurrentCommitError(f"{op} lost {max_retries} races at {self.path}")

    def merge(
        self,
        batch: DataFrame,
        keys: Sequence[str],
        order_col: str | None = None,
        max_retries: int = 5,
        allow_missing_columns: bool = False,
        partition_by: Sequence[str] | None = None,
        prune_col: str | None = None,
    ) -> int:
        """MERGE (upsert): new rows win by key, survivors carry over —
        copy-on-write snapshot, optimistic retry on writer races. Each
        retry re-reads the NEW latest snapshot, so a concurrent commit's
        rows are merged, not lost (write skew is resolved by key: last
        committer's batch wins on overlapping keys).
        ``allow_missing_columns=True`` is the schema-evolution MERGE:
        columns on only one side survive as nulls (see
        operators/upsert.upsert_by_key).

        ``prune_col`` (must be one of ``keys``) is MERGE FILE PRUNING —
        the Delta-style optimization that makes upserts affordable on a
        100 TB table: the batch's [min, max] on that key is COMPUTED
        (from the pinned batch — never a trusted declaration), and dirs
        whose recorded ``stats_cols`` range cannot contain any batch
        key carry forward UNTOUCHED. Only intersecting dirs join the
        upsert; the batch's own rows land in the rewritten dir either
        way, so new keys are never lost. With time-ordered ingest
        (commit logs, event streams) a merge touches the recent tail,
        not the table. Dirs without stats on the key are conservatively
        rewritten; NULL batch keys cannot match any row by key equality
        and need no dir. Incompatible with ``partition_by`` (the
        rewritten dir would cover only part of the table)."""
        if prune_col is not None and prune_col not in keys:
            raise ValueError(f"prune_col {prune_col!r} must be one of keys {keys}")
        if prune_col is not None and partition_by:
            raise ValueError("prune_col and partition_by are mutually exclusive")
        if prune_col is not None and allow_missing_columns:
            # a schema-evolution merge must consolidate to ONE dir so
            # every later read sees the evolved column; pruning would
            # leave untouched dirs on the old schema and a default
            # (merge_schema=False) read silently drops the new column
            raise ValueError(
                "prune_col and allow_missing_columns are mutually exclusive — "
                "a schema-evolution merge must rewrite the whole snapshot"
            )
        v0 = self.latest_version()
        m0 = self._manifest(v0) if v0 else {"dirs": []}
        if prune_col is not None or m0.get("blooms") or m0.get("stats"):
            # pin the batch before deriving metadata from it: the prune
            # decision, the recorded bounds, and the batch-side bloom
            # must describe the same rows the upsert writes, and a
            # non-deterministic batch plan (sample, rand, task retry)
            # re-evaluated by the write could contain keys outside a
            # pre-computed range — leaving an unrewritten dir that
            # actually held batch keys (ADVICE r7). The batch is the
            # small side of a merge, so materializing it is cheap at
            # any table size.
            batch = batch.localCheckpoint(eager=True)
        batch_rng = (
            _DirMeta(batch.schema, [prune_col]).over(batch)[0][prune_col]
            if prune_col is not None
            else None
        )
        return self._copy_on_write(
            "merge",
            max_retries,
            lambda m, touched: upsert_by_key(
                self._read_dirs(m, touched, allow_missing_columns) if touched else None,
                batch, keys, order_col, allow_missing_columns,
            ),
            # an all-NULL batch range (None, None) is open-ended: every
            # dir is rewritten
            where_range=None if prune_col is None else {prune_col: tuple(batch_rng)},
            batch=batch,
            partition_by=partition_by,
        )

    def delete_where(
        self,
        condition: str,
        max_retries: int = 5,
        range_hint: dict | None = None,
    ) -> int:
        """Transactional DELETE — copy-on-write of the surviving rows.
        A no-op (returns the current version, commits nothing) on a
        never-written table: SQL DELETE from an empty relation deletes
        zero rows, it does not error (edge surfaced by the
        IncrementalAggView property test's delete-first sequences).

        ``range_hint={"col": (lo, hi)}`` is file-level delete pruning
        (what Delta does with file stats): dirs whose recorded
        ``stats_cols`` range cannot intersect the hint are carried
        forward UNTOUCHED — no read, no rewrite — and only intersecting
        dirs are rewritten. The hint is a caller CONTRACT, like a Hive
        partition declaration: the condition must imply
        ``col BETWEEN lo AND hi`` (a wrong hint silently skips rows the
        condition would have deleted). The touched dirs are exactly the
        dirs ``read(where_range=range_hint)`` scans: a hinted column
        without recorded stats on a dir cannot prune it, but another
        hinted column can, and a dir no column can prune is rewritten.
        At 100 TB a retention delete
        ("drop last week") rewrites the handful of dirs under the
        window instead of the whole table."""
        # ANSI DELETE semantics: only rows where the condition is TRUE
        # are deleted — a NULL condition (e.g. a range test on a null
        # timestamp) KEEPS the row. `NOT (cond)` alone would silently
        # drop null-condition rows.
        return self._copy_on_write(
            "delete",
            max_retries,
            lambda m, touched: self._read_dirs(m, touched, merge_schema=False).where(
                f"NOT coalesce(({condition}), false)"
            ),
            where_range=range_hint,
        )

    def delete_keys(
        self,
        keys,
        on: str,
        max_retries: int = 5,
        max_keys: int = 100_000,
    ) -> int:
        """Transactional anti-join DELETE of an explicit key set — the
        right-to-be-forgotten / takedown primitive: erase these ids
        from a 100 TB table (and, called on each derived index, from
        its postings) without a full-table condition scan.

        ``keys`` is a sequence of values or a 1-column DataFrame
        (collected driver-side, capped at ``max_keys`` — an erasure
        batch is a request queue of thousands of ids, never data-sized;
        bigger sweeps belong to ``delete_where``). The rewritten dirs
        are exactly the dirs ``read(where_in={on: keys})`` scans
        (:meth:`_prune_dirs`): a dir is rewritten only when at least
        one key survives its partition spec, min/max stats, AND Bloom
        checks (append with ``stats_cols``/``bloom_cols`` on the key
        column to make this bite) — erasing one document from an
        id-ordered corpus rewrites ~one dir, and dirs the metadata
        proves clean are carried forward byte-untouched, stats/blooms
        and all. Row filtering is a broadcast LEFT ANTI join, which
        keeps NULL-key rows (SQL semantics: NULL never equals an
        erasure id). If every dir is provably clean the call commits
        NOTHING and returns the current version — an idempotent retry
        of an already-applied erasure is free."""
        from pyspark.sql import functions as F

        if isinstance(keys, DataFrame):
            if len(keys.columns) != 1:
                raise ValueError(
                    f"keys DataFrame must have exactly one column, got "
                    f"{keys.columns} — select the key column explicitly"
                )
            rows = keys.limit(max_keys + 1).collect()
            vals = [r[0] for r in rows]
        else:
            vals = list(keys)
        if len(vals) > max_keys:
            raise ValueError(
                f"{len(vals)}+ erasure keys exceeds max_keys={max_keys} — "
                "an erasure batch is a bounded request queue; stage a "
                "condition and use delete_where for data-sized sweeps"
            )
        if not vals:
            raise ValueError("empty key set — nothing to erase")
        if any(v is None for v in vals):
            raise ValueError(
                "None in erasure keys — NULL never matches a row key; "
                "filter nulls out explicitly"
            )
        keys_df = self.spark.createDataFrame([(v,) for v in vals], [on]).distinct()

        def _survivors(m: dict, touched: list[str]) -> DataFrame:
            base = self._read_dirs(m, touched, merge_schema=False)
            # a name-join reorders the key column to the front — restore
            # the stored column order so rewritten dirs keep the schema
            return base.join(F.broadcast(keys_df), on, "left_anti").select(
                *base.columns
            )

        return self._copy_on_write("delete", max_retries, _survivors, where_in={on: vals})

    def bloom_fpr_estimates(self, col: str, version: int | None = None) -> dict:
        """Estimated false-positive rate per dir of the recorded bloom
        on ``col``: fill_fraction ** k — the standard Bloom estimate
        (p ≈ (set bits / bits)^k), computed from the 4 KB bitmaps in
        the manifest alone, no data read. The maintenance signal for
        :meth:`retighten_blooms`: union blooms carried through
        copy-on-write rewrites (delete_keys / delete_where / optimize)
        are SUPERSETS by construction — every rewrite ORs the touched
        dirs' bitmaps, so repeated erasures monotonically raise the
        survivor dir's fill and with it the odds the NEXT erasure
        false-positives into rewriting it again (the 1↔9 bounce in
        BASELINE.md's r12 erasure growth table)."""
        import base64

        v = version or self.latest_version()
        if v == 0:
            return {}
        m = self._manifest(v)
        out: dict = {}
        for d in m["dirs"]:
            bl = (m.get("blooms") or {}).get(d, {}).get(col)
            if not bl:
                continue
            buf = base64.b64decode(bl["b64"])
            fill = sum(bin(b).count("1") for b in buf) / bl["bits"]
            out[d] = fill ** bl["k"]
        return out

    def retighten_blooms(
        self,
        cols: Sequence[str],
        fpr_threshold: float = 0.05,
        max_retries: int = 5,
    ) -> list[str]:
        """Metadata-only bloom + stats re-tighten (r13, the decay half
        of the erasure bounce): every dir whose ESTIMATED bloom FPR on
        any listed column exceeds ``fpr_threshold`` gets its blooms and
        min-max stats rebuilt from its OWN rows (one distinct-count
        sizing job, then one ``_DirMeta`` pass per dir) — at a
        geometry RESIZED to the dir's actual distinct-key count (~10
        bits/key, never narrower than recorded, never wider than
        ``BLOOM_RESIZE_CAP_BITS`` — the manifest-inlining cap;
        copy-on-write erasures consolidate many dirs' survivors into
        one, so the inherited geometry can be genuinely outgrown, not
        just stale) — committed
        as a ``retighten`` manifest that re-references every data dir
        byte-untouched (cheaper than an OPTIMIZE: no data rewrite, no
        copy-on-write churn; run it AS the fpr-keyed optimize trigger
        after takedown batches). A dir whose bloom was built from its
        own rows at the right size sits far under any sane threshold,
        so only union-bloom survivors qualify and repeated erasures
        stop bouncing off their accumulated false positives. A dir can
        still sit over threshold AFTER an own-rows rebuild when its
        distinct-key count outgrows ``BLOOM_RESIZE_CAP_BITS`` — the
        rebuild is idempotent there, so entries are stamped
        ``src: "own"`` and the staleness scan EXCLUDES them (r15,
        ADVICE: without the marker every maintenance tick re-read the
        capped dir's full rows, rebuilt an identical bitmap, and
        committed a no-op ``retighten`` manifest forever). Returns
        the re-tightened dir names ([] = nothing over threshold or
        nothing actually changed, no commit)."""
        from pyspark.sql import functions as F

        cols = list(cols)
        for _ in range(max_retries):
            parent = self.latest_version()
            if parent == 0:
                return []
            m = self._manifest(parent)
            ests = {c: self.bloom_fpr_estimates(c, parent) for c in cols}
            all_blooms_scan = m.get("blooms") or {}
            stale = [
                d
                for d in m["dirs"]
                if any(
                    ests[c].get(d, 0.0) > fpr_threshold
                    # src=="own" → bloom already rebuilt from this dir's
                    # own rows at capped-or-right geometry; a re-rebuild
                    # is bitwise identical, so the dir is settled even
                    # though its capped FPR estimate stays elevated
                    and all_blooms_scan.get(d, {}).get(c, {}).get("src") != "own"
                    for c in cols
                )
            ]
            if not stale:
                return []
            maps = self._dir_maps(m, m["dirs"])
            all_blooms = m.get("blooms") or {}
            changed: list[str] = []
            for d in stale:
                rows = self._read_dirs(m, [d], merge_schema=False)
                olds = {
                    c: all_blooms[d][c]
                    for c in cols
                    if c in all_blooms.get(d, {}) and c in rows.columns
                }
                if not olds:
                    continue
                # re-SIZE, not just re-set: copy-on-write erasures
                # consolidate many dirs' survivors into one, so the
                # dir's genuine distinct-key count can outgrow the
                # geometry its parents were appended with — rebuild at
                # ~10 bits/key (the append guidance), never narrower
                # than recorded; per-dir geometry is recorded in the
                # entry and probes replay it, so mixed geometries
                # across dirs stay correct
                n_distinct = rows.agg(
                    *[F.countDistinct(c).alias(c) for c in olds]
                ).collect()[0]
                # the stats re-tighten rides along: the same kernel pass
                # yields exact bounds for the columns whose recorded
                # ranges were union-widened by the same rewrites
                stat_cols = [
                    c for c in (m.get("stats") or {}).get(d, {}) if c in rows.columns
                ]
                stats, rebuilt = _DirMeta(
                    rows.schema,
                    stat_cols,
                    {
                        c: (
                            max(int(old["bits"]), _bloom_bits_for(n_distinct[c])),
                            old["k"],
                        )
                        for c, old in olds.items()
                    },
                ).over(rows)
                for entry in rebuilt.values():
                    # own-rows provenance marker: the scan above skips
                    # src=="own" dirs, ending the capped-dir livelock
                    entry["src"] = "own"
                if all(olds[c] == e for c, e in rebuilt.items()):
                    # idempotent rebuild (marker already recorded,
                    # bitmap identical) — nothing to commit for this dir
                    continue
                changed.append(d)
                maps["blooms"][d] = {**all_blooms.get(d, {}), **rebuilt}
                if stat_cols:
                    maps["stats"][d] = stats
            if not changed:
                # every stale candidate rebuilt to an identical entry —
                # committing would be pure version/history churn
                return []
            try:
                self._commit(parent, m["dirs"], "retighten", maps=maps)
                return changed
            except ConcurrentCommitError:
                continue  # metadata-only: nothing to clean up, re-resolve
        raise ConcurrentCommitError(
            f"retighten_blooms lost {max_retries} races at {self.path}"
        )

    def restore(self, version: int) -> int:
        """Roll the table back to an earlier snapshot AS A NEW COMMIT
        (lakehouse RESTORE semantics): history is append-only, so the
        bad versions stay inspectable, readers mid-query on them are
        unaffected, and the rollback itself can race other writers like
        any commit. No data is copied — the new manifest re-references
        the restored version's dirs (so vacuum keeps them live)."""
        rm = self._manifest(version)
        maps = self._dir_maps(rm, rm["dirs"])
        while True:
            try:
                return self._commit(
                    self.latest_version(),
                    rm["dirs"],
                    "restore",
                    {"restored_from": version},
                    maps,
                )
            except ConcurrentCommitError:
                continue

    def optimize(
        self,
        zorder_by: Sequence[str] | None = None,
        target_partitions: int | None = None,
        max_retries: int = 5,
        partition_by: Sequence[str] | None = None,
    ) -> int:
        """Snapshot compaction (the OPTIMIZE half of the lakehouse
        lifecycle): rewrite the current snapshot — K append dirs and
        their small files — into one fresh dir, optionally Z-order
        clustered (operators/maintenance.zorder_sort) so min-max file
        skipping works on the listed columns. ``partition_by`` keeps
        (or introduces) a Hive layout in the compacted dir — without it
        a compaction would silently FLATTEN a partitioned table and
        every subsequent pruned read degrades to a full scan. Copy-on-
        write like merge: readers of old versions are untouched, a
        racing writer costs a retry, and the superseded dirs age out
        via vacuum()."""
        from hapiy_etl_spark.operators.maintenance import zorder_sort

        if not self.latest_version():
            raise FileNotFoundError(f"empty table at {self.path}")

        def _compacted(m: dict, touched: list[str]) -> DataFrame:
            snap = self.read(m["version"], merge_schema=True)
            if zorder_by:
                return zorder_sort(
                    snap, list(zorder_by), num_partitions=target_partitions
                )
            return snap.coalesce(target_partitions) if target_partitions else snap

        return self._copy_on_write(
            "optimize", max_retries, _compacted, partition_by=partition_by
        )

    def optimize_clustered(
        self,
        cluster_by: str | Sequence[str],
        n_dirs: int = 8,
        stats_cols: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits: int | None = None,
        bloom_k: int | None = None,
        max_retries: int = 5,
    ) -> int:
        """Range-CLUSTERED compaction: rewrite the snapshot as
        ``n_dirs`` dirs clustered on ``cluster_by``, each with TIGHT
        per-dir stats (and blooms) computed from its written files.
        Plain ``optimize()`` compacts to one dir whose union-bounds
        stats span the whole table — correct but useless for pruning,
        so a compaction silently destroys the dir-skipping an
        append-mostly table accumulated. This is the Delta
        ``OPTIMIZE ZORDER``-to-many-files analogue at dir granularity:
        after it, a range or point read on the cluster key touches ~one
        of n dirs.

        ``cluster_by`` may be a LIST of numeric columns (r9): buckets
        then come from percentiles of the Morton Z-order interleave of
        the min-max-scaled columns (operators/maintenance.zorder_key),
        so a slice predicated on EVERY listed column prunes to ~one dir
        — single-column range clustering makes a two-predicate slice
        scan every dir that matches the first column alone.
        ``stats_cols`` defaults to the cluster columns (each dir records
        tight per-column bounds, which is what makes the multi-column
        prune exact regardless of boundary placement).

        Blooms (r9): with ``bloom_cols`` explicit, each dir blooms
        those columns at the given geometry. With ``bloom_cols=None``,
        the columns AND geometry are INHERITED from the parent
        manifest's newest blooming dir — the same inheritance MERGE
        uses — so a table that accumulated bloom pruning keeps it
        through a re-clustering instead of silently degrading point
        lookups to full scans (the r8 merge fix).

        Scale shape: approximate percentile boundaries on the cluster
        key (one agg; boundary precision only affects bucket balance,
        never pruning exactness), one shuffle-write into a
        Hive-partitioned spool on the computed bucket id, then ONE
        grouped ``_DirMeta`` pass over the spool for every dir's stats
        and blooms; the bucket subdirs are PROMOTED to data dirs by
        rename (no second copy), so the metadata describes exactly the
        committed files. Ties and skew are safe: equal keys land in one
        bucket (dirs may be uneven, their recorded bounds stay exact);
        empty buckets are skipped."""
        from pyspark.sql import functions as F

        cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        if not cols:
            raise ValueError("cluster_by must name at least one column")
        stats_cols = list(stats_cols) if stats_cols is not None else list(cols)
        if n_dirs < 1:
            raise ValueError(f"n_dirs must be >= 1: {n_dirs}")
        for _ in range(max_retries):
            parent = self.latest_version()
            snap = self.read(parent, merge_schema=True)
            missing = [c for c in cols if c not in snap.columns]
            if missing:
                raise ValueError(
                    f"cluster_by {missing!r} not in snapshot columns "
                    f"{snap.columns}"
                )
            if len(cols) == 1:
                keycol = F.col(cols[0])
            else:
                # Morton interleave of min-max-scaled columns. Bounds
                # come from one scalar agg (driver literals — boundary
                # precision affects balance only); a NULL in any column
                # scales to 0, so all-NULL rows land in bucket 0 like
                # the single-column NULLS FIRST behavior.
                from hapiy_etl_spark.operators.maintenance import zorder_key

                zbits = min(16, 63 // len(cols))
                brow = snap.agg(
                    *[F.min(c).alias(f"__mn_{c}") for c in cols],
                    *[F.max(c).alias(f"__mx_{c}") for c in cols],
                ).collect()[0]
                scaled = []
                for c in cols:
                    mn, mx = brow[f"__mn_{c}"], brow[f"__mx_{c}"]
                    if mn is None or mx is None or mx <= mn:
                        scaled.append(F.lit(0).cast("long"))
                        continue
                    span = float(mx) - float(mn)
                    scaled.append(
                        F.coalesce(
                            F.least(
                                F.floor(
                                    (F.col(c) - F.lit(mn))
                                    / F.lit(span)
                                    * F.lit((1 << zbits) - 1)
                                ),
                                F.lit((1 << zbits) - 1),
                            ),
                            F.lit(0),
                        ).cast("long")
                    )
                keycol = zorder_key(scaled, zbits)
            qs = [i / n_dirs for i in range(1, n_dirs)]
            if qs:
                # approx_percentile, not exact percentile: the exact
                # form buffers every value per partition (a scale-killer
                # at 100 TB), and boundary precision only affects bucket
                # BALANCE — each dir's recorded bounds come from its
                # written files, so pruning stays exact no matter where
                # the boundaries land
                bounds = (
                    snap.select(keycol.alias("__ck"))
                    .where(F.col("__ck").isNotNull())
                    .agg(
                        F.expr(
                            "approx_percentile(__ck, array("
                            + ",".join(str(q) for q in qs)
                            + "), 10000)"
                        ).alias("b")
                    )
                    .collect()[0]["b"]
                ) or []
            else:
                bounds = []
            # bucket id = how many boundaries the key has passed; NULL
            # keys sort first (bucket 0), matching NULLS FIRST reads
            b = F.lit(0)
            for bound in bounds:
                b = b + F.when(keycol > F.lit(bound), 1).otherwise(0)
            # the spool bucket column must not collide with a real
            # column — withColumn would silently REPLACE it and the
            # partitionBy would then strip it from the rewritten files.
            # withColumn resolves case-INSENSITIVELY by default, so the
            # guard must compare case-folded names ('__B' collides too)
            taken = {c.lower() for c in snap.columns}
            bcol = "__b"
            while bcol.lower() in taken:
                bcol = f"__b_{uuid.uuid4().hex[:8]}"
            # bloom inheritance (r9): with no explicit bloom_cols, the
            # parent's bloomed columns + geometry carry through the
            # rewrite — newest blooming dir wins per column, the same
            # rule a batch-only merge dir uses
            if bloom_cols is not None:
                geom = (int(bloom_bits or self.BLOOM_BITS), int(bloom_k or self.BLOOM_K))
                bloom_geoms = dict.fromkeys(bloom_cols, geom)
            else:
                bloom_geoms = {
                    c: (int(e["bits"]), int(e["k"]))
                    for c, e in self._newest_blooms(
                        self._manifest(parent) if parent else {}
                    ).items()
                    if c in snap.columns
                }
            meta = _DirMeta(snap.schema, stats_cols, bloom_geoms)
            spool = self.path / "data" / f".opt-{uuid.uuid4().hex[:12]}"
            snap.withColumn(bcol, b.cast("int")).write.partitionBy(
                bcol
            ).parquet(str(spool))
            dirs, schemas, stats, blooms = [], {}, {}, {}
            try:
                subs = sorted(
                    spool.glob(f"{bcol}=*"),
                    key=lambda p: int(p.name[len(bcol) + 1 :]),
                )
                if subs:
                    # Per-dir metadata from ONE grouped kernel pass over
                    # the spool: one job for every dir and column. The
                    # spool files ARE the committed bytes (the rename
                    # below moves, never rewrites them), so grouping by
                    # the spool's partition column reads back exactly the
                    # written data. Every bucket file was written by the
                    # one snapshot job above, so the spool's schema minus
                    # the bucket column is every dir's schema.
                    written = self.spark.read.parquet(str(spool))
                    by_bucket = meta.over(written, by=bcol)
                    schema_json = written.drop(bcol).schema.jsonValue()
                for sub in subs:
                    d = f"s-{uuid.uuid4().hex[:12]}"
                    os.rename(sub, self.path / "data" / d)
                    dirs.append(d)
                    schemas[d] = schema_json
                    stats[d], blooms[d] = by_bucket[int(sub.name[len(bcol) + 1 :])]
                if not dirs:
                    # an empty snapshot writes no bucket subdirs; a
                    # manifest needs at least one dir to carry the
                    # schema, and the observed write of zero rows records
                    # [None, None] stats and all-zero blooms (they prune
                    # every probe)
                    d, stats[d], blooms[d] = self._write_data_dir(snap, meta=meta)
                    dirs.append(d)
                    schemas[d] = snap.schema.jsonValue()
            except Exception:
                for d in dirs:
                    shutil.rmtree(self.path / "data" / d, ignore_errors=True)
                shutil.rmtree(spool, ignore_errors=True)
                raise
            shutil.rmtree(spool, ignore_errors=True)
            try:
                return self._commit(
                    parent,
                    dirs,
                    "optimize",
                    maps={
                        "schemas": schemas,
                        "stats": stats,
                        "blooms": {d: bl for d, bl in blooms.items() if bl},
                    },
                )
            except ConcurrentCommitError:
                for d in dirs:
                    shutil.rmtree(self.path / "data" / d, ignore_errors=True)
        raise ConcurrentCommitError(
            f"optimize_clustered lost {max_retries} races at {self.path}"
        )

    # -- maintenance ----------------------------------------------------------
    def vacuum(self, keep_last: int = 1, min_age_s: float = 3600.0) -> list[str]:
        """Drop data dirs referenced only by manifests older than the
        last ``keep_last`` versions, plus debris from aborted writes.
        Time travel stays valid for the kept versions.

        ``min_age_s`` is the concurrency guard (same role as Delta's
        vacuum retention): a writer spools its data dir BEFORE the
        manifest commit, so an unreferenced dir younger than the window
        may be an in-flight write, not garbage — only dirs (and temp
        manifests) older than the window are removed. Keep it above the
        longest plausible write duration.

        The return value lists EVERYTHING removed — data dirs and
        manifest files — so a caller can audit exactly which versions
        lost time-travel. Manifests below the keep window honor the
        same ``min_age_s`` gate as data dirs: destroying time-travel
        metadata is irreversible, so a default-retention vacuum never
        touches anything younger than the window."""
        import time as _time

        latest = self.latest_version()
        keep_from = max(1, latest - keep_last + 1)
        cutoff = _time.time() - min_age_s
        removed = []
        # Age-gated manifest drop first: only manifests BOTH below the
        # keep window AND older than the retention window go. Survivors
        # (young, below-window) keep their dirs live so time travel to
        # them stays valid until a later vacuum ages them out.
        surviving = []
        for v in range(1, latest + 1):
            p = self.path / "_tx" / f"v{v:08d}.json"
            if not p.exists():
                continue
            if v < keep_from and p.stat().st_mtime < cutoff:
                p.unlink(missing_ok=True)
                removed.append(p.name)
            else:
                surviving.append(v)
        live: set[str] = set()
        for v in surviving:
            live.update(self._manifest(v)["dirs"])
        for d in (self.path / "data").iterdir():
            if d.name not in live and d.stat().st_mtime < cutoff:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(d.name)
        for tmp in (self.path / "_tx").glob(".tmp-*"):
            if tmp.stat().st_mtime < cutoff:
                tmp.unlink(missing_ok=True)
        return sorted(removed)


# -- cross-table atomic group commit ----------------------------------------
# The online-dedup sink appends to TWO tables per micro-batch (corpus +
# signature index). Before r14 their consistency hung on commit ORDER
# (corpus first) plus heal-on-replay reasoning; the group commit removes
# the window entirely (VERDICT r13 item 6): both appends stage invisibly,
# ONE journal record holding the exact manifest bytes of both tables is
# created atomically — THE commit point — and the manifests then publish
# from it. A crash anywhere leaves either (a) no record: neither table
# advanced, staged dirs are vacuum debris, the replay recomputes both; or
# (b) a record: ``txgroup_recover`` re-publishes the missing manifests
# verbatim before the next batch runs — a generic journal roll-forward,
# no domain-specific self-heal reasoning. Requires the single-writer
# setting a checkpointed streaming sink guarantees per table.


def txgroup_commit_appends(group_path: str, appends: list[dict]) -> list[int]:
    """Atomically append one batch to SEVERAL TxTables.

    ``appends``: one dict per table — ``{"table": TxTable, "df":
    DataFrame, "meta": ..., "partition": ..., "stats_cols": ...,
    "bloom_cols": ..., "bloom_bits": ..., "bloom_k": ...}``. All stage
    (each data dir written with its stats/blooms observed on that
    write — one write per table, see ``TxTable.append``), all
    manifests build against their current parents, then ONE group
    record (tmp + fsync + exclusive hard-link, the same atomicity as a
    manifest publish) journals every manifest's exact content; the
    publishes follow in list order and the record
    unlinks when all of them exist. Returns the committed versions."""
    from concurrent.futures import ThreadPoolExecutor

    from ..session import with_caller_job_group

    gp = Path(group_path)
    gp.mkdir(parents=True, exist_ok=True)
    # The stages are independent writes submitted from a small thread
    # pool, so the second back-fills the first's task tail: on the
    # online-dedup batch (450 documents, 3,600 band postings; 4 vCPUs,
    # 20 in-process ABBA rounds each) the commit took 0.47 s p50 pooled
    # against 0.62 s [0.57, 0.67] staged one after the other. Staging
    # order is irrelevant — nothing is visible until the group record
    # publishes, and the manifests build below AFTER all stages. A
    # failed stage propagates before any manifest is built, leaving only
    # unreferenced spool dirs (vacuum debris). The stage threads inherit
    # the caller's job group, so its jobs are attributed to the caller.
    def _stage(a):
        return a, a["table"]._stage_append(
            a["df"], a.get("stats_cols"), a.get("bloom_cols"),
            a.get("bloom_bits"), a.get("bloom_k"),
        )

    if len(appends) > 1:
        stage = with_caller_job_group(appends[0]["table"].spark, _stage)
        with ThreadPoolExecutor(max_workers=min(4, len(appends))) as pool:
            staged = list(pool.map(stage, appends))
    else:
        staged = [_stage(a) for a in appends]
    manifests = [
        (
            a["table"],
            a["table"]._append_manifest(
                d, a["df"].schema.jsonValue(), a.get("meta"),
                a.get("partition"), se, be,
            ),
        )
        for a, (d, se, be) in staged
    ]
    record = {
        "ts": time.time(),
        "tables": [
            {"path": str(t.path), "manifest": m} for t, m in manifests
        ],
    }
    rid = uuid.uuid4().hex[:16]
    rp = gp / f"g-{rid}.json"
    tmp = gp / f".tmp-{rid}"
    with open(tmp, "w") as f:
        f.write(json.dumps(record))
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, rp)  # THE commit point: all-or-nothing from here
    finally:
        tmp.unlink(missing_ok=True)
    versions = []
    for t, m in manifests:
        versions.append(_txgroup_publish(t, m))
    rp.unlink(missing_ok=True)
    return versions


def _txgroup_publish(t: "TxTable", m: dict) -> int:
    """Publish a journaled manifest, tolerating an identical file that
    a concurrent recovery already published; any OTHER content at the
    version is a single-writer violation and raises."""
    try:
        return t._publish_manifest(m)
    except ConcurrentCommitError:
        if t._manifest(m["version"]) == m:
            return m["version"]
        raise


def txgroup_recover(spark: SparkSession, group_path: str) -> int:
    """Roll forward interrupted group commits: for every journal record,
    publish each member manifest that is not on disk yet (verbatim from
    the record — byte-identical to what the crashed writer would have
    published), then drop the record. Returns the number of manifests
    published. Run before a sink's first batch (``ingest_dedup_batch``
    does); with no records it is one empty directory listing."""
    gp = Path(group_path)
    if not gp.exists():
        return 0
    published = 0
    for rp in sorted(gp.glob("g-*.json")):
        rec = json.loads(rp.read_text())
        for entry in rec["tables"]:
            t = TxTable(spark, entry["path"])
            m = entry["manifest"]
            p = t.path / "_tx" / f"v{m['version']:08d}.json"
            if p.exists():
                if json.loads(p.read_text()) != m:
                    raise RuntimeError(
                        f"group record {rp.name} conflicts with published "
                        f"v{m['version']} at {t.path} — a second writer "
                        "committed this version with different content; "
                        "the group commit requires single-writer tables"
                    )
                continue
            if t.latest_version() >= m["version"]:
                raise RuntimeError(
                    f"group record {rp.name} is stale: {t.path} is past "
                    f"v{m['version']} but that manifest is gone (vacuumed?) "
                    "— refusing to re-create a historical version"
                )
            t._publish_manifest(m)
            published += 1
        rp.unlink(missing_ok=True)
    return published
