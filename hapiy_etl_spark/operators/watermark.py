"""Persisted batch high-watermark (reference parity R8/R9).

The reference recomputes its watermark with a full O(n) state scan every
tick (git_etl.ts:141-153) and advances it by +1 second to dodge an
inclusive `since` (git_etl.ts:319-324). Here the watermark is persisted
in a sidecar JSON file (driver-side metadata, bytes not data) and the
incremental filter is a strict ``ts > watermark`` — which replaces the
+1s hack exactly and loses no same-second rows. Recovery recomputes via
``agg(max)`` (max ignores nulls, matching the reference's null guard).
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FMT = "%Y-%m-%dT%H:%M:%S.%f"


class WatermarkStore:
    """Per-source persisted high-watermark, file-backed."""

    def __init__(self, path: str) -> None:
        self._path = Path(path)

    def _load(self) -> dict[str, str]:
        if self._path.exists():
            return json.loads(self._path.read_text())
        return {}

    def get(self, source: str) -> dt.datetime | None:
        raw = self._load().get(source)
        return dt.datetime.strptime(raw, _FMT) if raw else None

    def set(self, source: str, ts: dt.datetime) -> None:
        state = self._load()
        state[source] = ts.strftime(_FMT)
        self._path.parent.mkdir(parents=True, exist_ok=True)
        self._path.write_text(json.dumps(state, indent=2, sort_keys=True))

    def advance_from(self, source: str, df: DataFrame, ts_col: str) -> dt.datetime | None:
        """Raise the watermark to max(ts_col) of df (never lowers it).

        agg(max) is a partial-aggregated reduction — one number crosses
        the shuffle, regardless of batch size.
        """
        return self.advance_to(source, df.agg(F.max(ts_col)).first()[0])

    def advance_to(self, source: str, ts: dt.datetime | None) -> dt.datetime | None:
        """Raise the watermark to ``ts`` (never lowers it; a NULL ``ts``
        — a batch with no timestamps — leaves it unchanged). Returns the
        watermark after the call."""
        cur = self.get(source)
        if ts is not None and (cur is None or ts > cur):
            self.set(source, ts)
            return ts
        return cur

    def incremental_filter(self, source: str, df: DataFrame, ts_col: str) -> DataFrame:
        """Rows strictly newer than the stored watermark (pushed to scan)."""
        wm = self.get(source)
        return df if wm is None else df.where(F.col(ts_col) > F.lit(wm))
