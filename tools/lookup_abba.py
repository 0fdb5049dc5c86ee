"""In-process A/B of the ``ingest_mix`` point lookup's read build.

Usage:
    python tools/lookup_abba.py [rounds] [ticks]

Lands ``ticks`` (default 13) of the benchmark's seeded commit stream
(``perfbench/streams.py``, 5,000 commits a tick) through the merge-sink
pipeline into a scratch TxTable, then runs ``rounds`` (default 20)
rounds of 50-key ``where_in`` lookups, one per arm, in an order that
rotates and reverses from round to round:

- ``read``: ``TxTable.read(where_in=...)``, the shipped path: one
  SQL-text predicate over a scan built for the read;
- ``columns``: the same scan filtered by ``F.col(k).isin(keys)``, the
  per-literal Column form ``read`` used before;
- ``kept``: the one predicate over a scan frame kept across reads while
  the table's dirs stay the same (reads share attribute ids, so this is
  a measurement, not a safe read path).

Per arm it prints the median and quartiles of the read-build time, of
the ``collect()`` time and of the whole lookup, and the median py4j
round trips of the read build (one ``send_command`` on the gateway
client each), plus in how many rounds ``read`` was faster than each
other arm. Every arm must return the 50 keys; a mismatch aborts. This
is measurement tooling only; never on any query path.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))


def _quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4)
    return {"p50": round(statistics.median(xs), 4), "q1": round(q[0], 4), "q3": round(q[2], 4)}


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    ticks = int(sys.argv[2]) if len(sys.argv) > 2 else 13
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

    import streams
    from pyspark.sql import functions as F

    from hapiy_etl_spark.operators.txstore import _row_filter
    from hapiy_etl_spark.pipeline.ingest import JsonCommitsSource, PipelineConfig
    from hapiy_etl_spark.pipeline.reference_flow import TxCommitsPipeline
    from hapiy_etl_spark.session import get_spark

    spark = get_spark("lookup_abba")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    trips = [0]

    def counting(*args, **kwargs):
        trips[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    root = Path(tempfile.mkdtemp(prefix="lookup_abba_"))
    stream = streams.commit_ticks(1, 5_000)
    pick = streams.key_picker(1)
    landed: list[str] = []
    pipe = None
    for i in range(ticks):
        items, new = next(stream)
        spool = root / f"tick{i:03d}.jsonl"
        streams.write_spool(spool, items)
        if pipe is None:
            pipe = TxCommitsPipeline(
                PipelineConfig(state_dir=str(root / "state")), JsonCommitsSource(str(spool)), spark
            )
        pipe.source.path = str(spool)
        pipe.run_once(spark)
        landed.extend(it["sha"] for it in new)
    t = pipe.table
    fresh, old = landed[-5_000:], landed[:-5_000]

    def scan(keys):
        m = t._manifest(t.latest_version())
        return m, t._prune_dirs(m, where_in={"commit_hash": keys})

    def read(keys):
        return t.read(where_in={"commit_hash": keys})

    def columns(keys):
        m, dirs = scan(keys)
        return t._read_dirs(m, dirs, False).where(F.col("commit_hash").isin(list(keys)))

    kept_frames: dict = {}

    def kept(keys):
        m, dirs = scan(keys)
        if tuple(dirs) not in kept_frames:
            kept_frames.clear()
            kept_frames[tuple(dirs)] = t._read_dirs(m, dirs, False)
        return kept_frames[tuple(dirs)].where(_row_filter(None, {"commit_hash": keys}, None))

    arms = {"read": read, "columns": columns, "kept": kept}
    out = {a: {"build_s": [], "collect_s": [], "trips": []} for a in arms}
    for a in arms:  # warm every path once, untimed
        arms[a](pick(fresh, old, 50)).select("commit_hash").collect()
    names = list(arms)
    for r in range(rounds):
        order = names[r % 3:] + names[: r % 3]
        for a in order if r % 2 == 0 else order[::-1]:
            keys = pick(fresh, old, 50)
            trips[0] = 0
            t0 = time.perf_counter()
            df = arms[a](keys)
            t1 = time.perf_counter()
            n = trips[0]
            got = sorted(x.commit_hash for x in df.select("commit_hash").collect())
            t2 = time.perf_counter()
            if got != sorted(keys):
                raise SystemExit(f"{a}: lookup returned {len(got)} of {len(keys)} keys")
            out[a]["build_s"].append(t1 - t0)
            out[a]["collect_s"].append(t2 - t1)
            out[a]["trips"].append(n)
    client.send_command = send
    lookups = {a: [b + c for b, c in zip(v["build_s"], v["collect_s"])] for a, v in out.items()}
    report = {
        a: {
            "read_build_s": _quartiles(v["build_s"]),
            "collect_s": _quartiles(v["collect_s"]),
            "lookup_s": _quartiles(lookups[a]),
            "py4j_round_trips": statistics.median(v["trips"]),
        }
        for a, v in out.items()
    }
    for a in ("columns", "kept"):
        report[f"read_faster_than_{a}_rounds"] = sum(
            x < y for x, y in zip(lookups["read"], lookups[a])
        )
    report["rounds"] = rounds
    report["ticks"] = ticks
    print(json.dumps(report))
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
