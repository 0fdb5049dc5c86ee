"""Standalone per-query profiler: timing medians + event-log job trace.

Usage:
    python tools/profile_query.py <query_name> [reps]

Runs ONE registered query with the bench's session/protocol (untimed
warm rep, then ``reps`` timed fn()+count() passes), prints per-rep
seconds, py4j round trips, Spark jobs (one job group per rep) and the
median, and — from the Spark event log — the timed reps' per-job wall
clock plus the inter-job driver gaps within each rep, which is how
driver-scheduled overhead (manifest fsyncs, tiny metadata jobs, py4j
chatter) shows up (optimization guide §1.1/§7.3). Event-log jobs are
selected by their ``profile-rep-*`` job group, not by time, so jobs of
neighbouring work are never counted; the engine's helper-thread pools
pass the caller's job group on, so their jobs count with the rep.
Each round trip is one ``send_command`` on the py4j gateway client:
building a plan from ``F.*`` Column nodes costs several per node,
while SQL text costs one parse.

This is measurement tooling only; never on any query path.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    evdir = Path("/tmp/r16/eventlogs")
    evdir.mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from hapiy_etl_spark.registry import all_queries
    from hapiy_etl_spark.session import RUNTIME_CONF

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"profile_{name}")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 4)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(evdir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId

    q = all_queries()[name]

    # untimed warm rep (bench protocol)
    q.fn(spark, sf_dir).count()

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    trips = [0]

    def counting_send(*args, **kwargs):
        trips[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting_send
    sc = spark.sparkContext
    times = []
    rep_trips = []
    rep_jobs = []
    for r in range(reps):
        trips[0] = 0
        # the group id alone: a group description would replace the
        # call sites in the per-job trace below
        sc.setLocalProperty("spark.jobGroup.id", f"profile-rep-{r}")
        t0 = time.time()
        n = q.fn(spark, sf_dir).count()
        dt = time.time() - t0
        times.append(dt)
        rep_trips.append(trips[0])
        rep_jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"profile-rep-{r}")))
        print(
            f"rep {r + 1}: {dt:.3f}s rows={n} py4j={rep_trips[-1]} jobs={rep_jobs[-1]}",
            file=sys.stderr,
        )
    client.send_command = send
    spark.stop()

    med = sorted(times)[len(times) // 2]
    print(f"median: {med:.3f}s over {reps} reps  {[round(t, 3) for t in times]}")
    print(f"py4j round trips per rep: {rep_trips}")
    print(f"Spark jobs per rep: {rep_jobs}")

    # parse the event log for the timed reps' jobs (Spark 4 rolling layout:
    # eventlog_v2_<appId>/events_1_<appId>[.zstd])
    ev = evdir / app_id
    if not ev.exists():
        cand = sorted((evdir / f"eventlog_v2_{app_id}").glob("events_*"))
        ev = cand[0] if cand else ev
    if ev.suffix == ".zstd":
        import io as _io

        import zstandard

        raw = zstandard.ZstdDecompressor().stream_reader(open(ev, "rb"))
        fobj = _io.TextIOWrapper(_io.BufferedReader(raw))
    else:
        fobj = open(ev)
    jobs: dict[int, list] = {}
    with fobj as f:
        for line in f:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            if e.get("Event") == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                if group.startswith("profile-rep-"):
                    desc = props.get("spark.job.description", "") or props.get(
                        "callSite.short", ""
                    )
                    jobs[e["Job ID"]] = [e["Submission Time"] / 1000.0, None, desc, group]
            elif e.get("Event") == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]][1] = e["Completion Time"] / 1000.0

    timed = sorted(
        (s, e2, jid, desc, group)
        for jid, (s, e2, desc, group) in jobs.items()
        if e2
    )
    total_job = sum(e2 - s for s, e2, _, _, _ in timed)
    gaps = 0.0
    for prev, cur in zip(timed, timed[1:]):
        if prev[4] == cur[4] and cur[0] > prev[1]:
            gaps += cur[0] - prev[1]
    print(
        f"timed reps: {len(timed)} jobs, {total_job:.2f}s in jobs, "
        f"{gaps:.2f}s inter-job gaps (over {reps} reps; per-rep ≈ "
        f"{len(timed) / reps:.0f} jobs / {gaps / reps:.2f}s gaps)"
    )
    for s, e2, jid, desc, _ in timed:
        print(f"  job {jid}: {e2 - s:7.3f}s  {desc[:80]}")


if __name__ == "__main__":
    main()
