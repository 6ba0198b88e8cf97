"""Stage-level profile of registry queries: runs each named query
under the bench protocol (forced bit_xor(xxhash64) evaluation) with
the Spark event log enabled, then parses the log and prints per-stage
durations, task counts and shuffle bytes — the guide §1 "where does
the time go" measurement the UI would give if it were enabled.

Usage:
    python tools/profile_query.py --sf-dir /root/testdata/sf0.1 \
        --names er3_indel_complete_matches [--reps 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time


def main() -> None:
    repo_root = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--names", required=True)
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--min-ms", type=int, default=20,
                    help="hide stages shorter than this")
    args = ap.parse_args()

    # The JVM reads the event-log settings once, at launch: pass them
    # through PYSPARK_SUBMIT_ARGS before the first session starts, and
    # build that session with the package's factory so the profile
    # measures the same tuning as the bench.
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir=file://{evdir}",
        "--conf spark.eventLog.compress=false",
        "pyspark-shell",
    ])
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.session import get_spark

    spark = get_spark(app_name="profile_query")
    spark.sparkContext.setLogLevel("ERROR")

    from aws_csp_datapipeline_spark.plans import registry

    qs = registry.queries()
    names = [n for n in args.names.split(",") if n]

    def force(df):
        df.agg(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))).collect()

    # warm-up
    force(qs[names[0]](spark, args.sf_dir))

    marks = []
    for _ in range(args.reps):
        for name in names:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t_build0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            t_build = time.perf_counter() - t_build0
            force(df)
            dt = time.perf_counter() - t0
            marks.append((name, t0, dt, t_build))
            print(f"# {name}: total {dt:.3f}s (plan build {t_build:.3f}s)",
                  file=sys.stderr)
            spark.sparkContext.setJobDescription(None)

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log (Spark 4 writes a rolling eventlog_v2_<app>
    # DIRECTORY holding events_* part files)
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        cands = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        path = max(cands, key=os.path.getmtime)
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        parts = [path]
    jobs = {}       # jobId -> (desc, submit_ms)
    stage_job = {}  # stageId -> jobId
    stages = []
    taskm = {}      # stageId -> dict of summed task metrics
    def _lines():
        for p in parts:
            if p.endswith(".zstd"):
                import zstandard

                with open(p, "rb") as fh:
                    data = zstandard.ZstdDecompressor().stream_reader(fh).read()
                yield from data.decode("utf-8", "replace").splitlines()
            else:
                with open(p, errors="replace") as fh:
                    yield from fh

    for line in _lines():
        if True:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )
                jid = ev["Job ID"]
                jobs[jid] = (desc, ev.get("Submission Time", 0))
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif e == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sid = ev["Stage ID"]
                agg = taskm.setdefault(
                    sid, dict(run=0, srb=0, swb=0, srr=0, swr=0, out=0)
                )
                agg["run"] += tm.get("Executor Run Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                agg["srb"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                agg["srr"] += sr.get("Total Records Read", 0)
                agg["swb"] += sw.get("Shuffle Bytes Written", 0)
                agg["swr"] += sw.get("Shuffle Records Written", 0)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                if sub is None or com is None:
                    continue
                scopes = []
                for r in si.get("RDD Info", []):
                    try:
                        nm = json.loads(r.get("Scope") or "{}").get("name", "")
                    except json.JSONDecodeError:
                        nm = ""
                    nm = nm or r.get("Name", "")
                    if nm and nm not in scopes:
                        scopes.append(nm)
                stages.append(
                    dict(
                        stage=si["Stage ID"],
                        job=stage_job.get(si["Stage ID"], -1),
                        name=" | ".join(scopes)[:160],
                        ms=com - sub,
                        tasks=si.get("Number of Tasks", 0),
                    )
                )

    by_job = {}
    for s in stages:
        by_job.setdefault(s["job"], []).append(s)
    for jid in sorted(by_job):
        desc, sub = jobs.get(jid, ("?", 0))
        tot = sum(s["ms"] for s in by_job[jid])
        print(f"\njob {jid} [{desc}] stages_sum={tot}ms")
        for s in sorted(by_job[jid], key=lambda x: -x["ms"]):
            if s["ms"] < args.min_ms:
                continue
            m = taskm.get(s["stage"], {})
            print(
                f"  stage {s['stage']:>4} {s['ms']:>7}ms "
                f"tasks={s['tasks']:<4} run={m.get('run', 0)}ms "
                f"sr={m.get('srb', 0)//1024}K/{m.get('srr', 0)}r "
                f"sw={m.get('swb', 0)//1024}K/{m.get('swr', 0)}r\n"
                f"        {s['name']}"
            )
    print(f"\nevent log: {path}")


if __name__ == "__main__":
    main()
