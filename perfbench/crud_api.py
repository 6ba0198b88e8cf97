"""The ``crud_api`` workload: the reference's API surface over
CSV-ingested data.

1. Ingest: a seeded generator writes four landing CSVs in
   ``Sample_Input.csv``'s shape (quoted commas, embedded newlines,
   doubled quotes, ``N/A``/``NA``/empty/``-`` nulls, messy dates, an
   extra column the target schema drops). ``read_messy_csv`` plus the
   ``operators/cleaning`` ops parse and clean them, and the result is
   committed as version 1 of a ``SnapshotStore``.
2. Ops: one closed-loop client drives ``CspToolsEngine`` through a
   fixed 24-op deck — 37.5% envelope by ``s_no`` (one a missed key),
   21% envelope by ``login``, 8% dashboard, 12.5% create (one a
   duplicate name → 400), 12.5% update and 8% delete (one of each on
   an absent key → 404) — carrying each returned engine forward. After
   every 5th successful mutation the table is committed to the store
   and re-read from it; the deck ends on its fifth, so each deck
   starts from a freshly committed table.

Every op is checked, outside its timed call, against ``Model``: a
plain-Python replay of the same op sequence.
"""

from __future__ import annotations

import contextlib
import csv
import json
import os
import random
import statistics
import time
from datetime import date

from perfbench import common

ROWS = 25_000
WARM_ROWS = 500
FILES = 4
COMMIT_EVERY = 5
ENVELOPE_LIMIT = 150

TEAMS = ["FCS", "GCSS", "CMS", "CCS", "Tex", "CESS"]
SCRIPTS = ["Script", "Tool", "Dashboard", "Cradle Job", "AI"]
REUSE = ["yes", "no", "Yes", "No"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
RAW_COLUMNS = [
    "s_no", "team_name", "tool_name", "description", "tool_script",
    "created_date", "active_inactive", "can_be_reused_across_csp_teams",
    "login", "is_display", "remarks",
]
# Variants of an op that must take its error path.
MISS, DUP = "miss", "dup"
# One deck of 24 ops in a fixed order, so every seed meets the same
# plan growth between commits; the seed drives the data and every op's
# arguments. The table is committed after every 5th successful mutation
# (a create rejected with 400 or an update or delete answered with 404
# changes nothing), and the deck holds five and ends on the fifth, so
# every deck starts from a freshly committed table and a run that times
# more than one deck repeats the same pattern. A run times whole decks,
# usually one, so the deck itself holds every error path: a missed
# lookup, a duplicate create (400) and an update and a delete on an
# absent key (404). Mix: 37.5% get_s_no, 21% get_login, 8% dashboard,
# 12.5% create, 12.5% update, 8% delete.
DECK = [
    ("get_s_no", None), ("create", None), ("get_login", None), ("get_s_no", None),
    ("update", None), ("dashboard", None), ("create", DUP), ("get_s_no", None),
    ("get_login", None), ("delete", MISS), ("get_s_no", None), ("update", None),
    ("get_login", None), ("get_s_no", None), ("update", MISS), ("dashboard", None),
    ("get_s_no", None), ("delete", None), ("get_login", None), ("get_s_no", None),
    ("get_s_no", MISS), ("get_login", None), ("get_s_no", None), ("create", None),
]
# Untimed warm-up ops: every op and error path of the deck once, the
# successful create last so the warm-up pays no plan growth.
WARMUP = [
    ("get_s_no", None), ("get_s_no", MISS), ("get_login", None), ("dashboard", None),
    ("update", None), ("update", MISS), ("delete", None), ("delete", MISS),
    ("create", DUP), ("create", None),
]
MUTATIONS = {"create", "update", "delete"}
DASHBOARD_KEYS = {
    "by_tool_script": "tool_script",
    "by_team": "team_name",
    "by_reused": "can_be_reused_across_csp_teams",
}


# ---------------------------------------------------------------- inputs


def _messy_date(rng: random.Random) -> tuple[str, str | None]:
    """One raw created_date spelling and its cleaned ISO value, per
    ``cleaning.parse_messy_date`` (dd-MMM → year 2000; MMM-yy → day 1;
    yyyy → Jan 1; '-' / empty → NULL)."""
    kind = rng.randrange(5)
    m = rng.randrange(12)
    if kind == 0:
        day = rng.randint(1, 28)
        return f"{day}-{MONTHS[m]}", date(2000, m + 1, day).isoformat()
    if kind == 1:
        yy = rng.randint(10, 25)
        return f"{MONTHS[m]}-{yy:02d}", date(2000 + yy, m + 1, 1).isoformat()
    if kind == 2:
        y = rng.randint(2005, 2024)
        return str(y), date(y, 1, 1).isoformat()
    return rng.choice(["-", ""]), None


def _null_or(rng: random.Random, value: str, p: float = 0.05) -> tuple[str, str | None]:
    """Raw spelling and cleaned value of a nullable string cell."""
    if rng.random() < p:
        return rng.choice(["N/A", "NA", "", "-"]), None
    return value, value


def generate_landing(seed: int, out_dir: str, rows: int = ROWS, files: int = FILES) -> dict:
    """Write the landing CSVs; return the cleaned rows the ingest must
    produce, keyed by s_no."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_logins = max(4, rows // 2500)
    logins = [f"user{rng.randrange(10**6):06d}" for _ in range(n_logins)]
    expected: dict[int, dict] = {}
    per_file = -(-rows // files)
    for f in range(files):
        path = os.path.join(out_dir, f"landing_{f}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL)
            w.writerow(RAW_COLUMNS)
            for s_no in range(f * per_file + 1, min(rows, (f + 1) * per_file) + 1):
                team_raw, team = _null_or(rng, rng.choice(TEAMS))
                script_raw, script = _null_or(rng, rng.choice(SCRIPTS))
                if rng.random() < 0.3:
                    desc = f'Runs the "{rng.choice(SCRIPTS)}" job, nightly\nowner: {rng.choice(logins)}'
                else:
                    desc = f"tool {s_no}, team {team or 'none'}"
                desc_raw, desc = _null_or(rng, desc)
                date_raw, created = _messy_date(rng)
                active_raw, active = _null_or(rng, "Active" if rng.random() < 0.7 else "Inactive")
                reuse_raw, reuse = _null_or(rng, rng.choice(REUSE))
                login = rng.choice(logins)
                shown = rng.random() >= 0.05
                w.writerow([
                    s_no, team_raw, f"tool_{s_no}", desc_raw, script_raw, date_raw,
                    active_raw, reuse_raw, login,
                    rng.choice(["TRUE", "true", "yes"] if shown else ["FALSE", "no"]),
                    rng.choice(["N/A", "", "moved, see wiki"]),
                ])
                expected[s_no] = {
                    "s_no": s_no, "team_name": team, "tool_name": f"tool_{s_no}",
                    "description": desc, "tool_script": script, "created_date": created,
                    "active_inactive": active, "can_be_reused_across_csp_teams": reuse,
                    "login": login, "is_display": shown,
                }
    return {"dir": out_dir, "rows": expected, "logins": logins}


def read_landing(spark, landing_dir: str):
    """CSV landing files → cleaned frame in the engine's schema."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from aws_csp_datapipeline_spark.engine import CSP_TOOLS_SCHEMA
    from aws_csp_datapipeline_spark.operators import cleaning
    from aws_csp_datapipeline_spark.sources.csv_source import read_messy_csv

    raw_schema = T.StructType([T.StructField(c, T.StringType()) for c in RAW_COLUMNS])
    raw = cleaning.normalize_nulls(read_messy_csv(spark, landing_dir, schema=raw_schema))
    typed = (
        raw.withColumn("s_no", F.col("s_no").cast("long"))
        .withColumn("created_date", cleaning.parse_messy_date(F.col("created_date")).cast("string"))
        .withColumn("is_display", cleaning.coerce_boolean(F.col("is_display")))
    )
    return cleaning.conform(typed, CSP_TOOLS_SCHEMA)


# ----------------------------------------------------------------- model


class Model:
    """Plain-Python replay of the engine's documented semantics."""

    def __init__(self, rows: dict[int, dict]) -> None:
        self.rows = {k: dict(v) for k, v in rows.items()}
        self.names = {r["tool_name"] for r in self.rows.values()}

    def visible(self):
        return [r for r in self.rows.values() if r["is_display"]]

    def envelope(self, s_no=None, login=None) -> dict:
        hits = [
            r for r in self.visible()
            if (s_no is None or r["s_no"] == s_no) and (login is None or r["login"] == login)
        ]
        hits.sort(key=lambda r: r["s_no"])
        return {
            "total_count": len(hits),
            "records": [
                {k: v for k, v in r.items() if v is not None} for r in hits[:ENVELOPE_LIMIT]
            ],
        }

    def create(self, record: dict) -> tuple[int, int | None]:
        if record["tool_name"] in self.names:
            return 400, None
        s_no = max(self.rows, default=0) + 1
        row = {c: record.get(c) for c in ROW_KEYS}
        row.update(s_no=s_no, is_display=True)
        self.rows[s_no] = row
        self.names.add(record["tool_name"])
        return 201, s_no

    def update(self, s_no: int, updates: dict) -> int:
        if s_no not in self.rows:
            return 404
        self.rows[s_no].update(updates)
        return 200

    def delete(self, s_no: int) -> int:
        if s_no not in self.rows:
            return 404
        self.rows[s_no]["is_display"] = False
        return 200

    def dashboard(self) -> dict:
        vis = self.visible()
        out: dict = {}
        for name, col in DASHBOARD_KEYS.items():
            counts: dict = {}
            for r in vis:
                counts[r[col]] = counts.get(r[col], 0) + 1
            out[name] = counts
        pivot: dict = {}
        for r in vis:
            cell = pivot.setdefault(r["team_name"], [0, 0])
            if r["active_inactive"] == "Active":
                cell[0] += 1
            elif r["active_inactive"] == "Inactive":
                cell[1] += 1
        out["team_by_active"] = {k: tuple(v) for k, v in pivot.items()}
        out["detail"] = len(vis)
        return out


ROW_KEYS = [
    "s_no", "team_name", "tool_name", "description", "tool_script", "created_date",
    "active_inactive", "can_be_reused_across_csp_teams", "login", "is_display",
]


def collect_dashboard(engine) -> dict:
    """Collect the four aggregates and the detail count."""
    views = engine.dashboard()
    out = {
        name: {r[col]: r["cnt"] for r in views[name].collect()}
        for name, col in DASHBOARD_KEYS.items()
    }
    out["team_by_active"] = {
        r["team_name"]: (r["Active"], r["Inactive"]) for r in views["team_by_active"].collect()
    }
    out["detail"] = views["detail"].count()
    return out


# -------------------------------------------------------------- op stream


class OpStream:
    """Seeded op arguments; keys are picked from the model's current
    state, so the sequence is a pure function of the seed."""

    def __init__(self, seed: int, model: Model, logins: list[str]) -> None:
        self.rng = random.Random(seed * 7919 + 1)
        self.model = model
        self.logins = logins
        # ingested rows hold s_no 1..ingested and never change tool_name
        self.ingested = max(model.rows)
        self.created = 0

    def _key(self, miss: bool) -> int:
        top = max(self.model.rows)
        return top + self.rng.randint(1000, 9999) if miss else self.rng.randint(1, top)

    def args(self, kind: str, variant: str | None) -> dict:
        rng = self.rng
        if kind == "get_s_no":
            return {"s_no": self._key(variant == MISS)}
        if kind == "get_login":
            return {"login": rng.choice(self.logins)}
        if kind == "dashboard":
            return {}
        if kind == "create":
            if variant == DUP:
                name = f"tool_{rng.randint(1, self.ingested)}"
            else:
                self.created += 1
                name = f"new_tool_{self.created}_{rng.randrange(10**6)}"
            return {"record": {
                "tool_name": name, "team_name": rng.choice(TEAMS),
                "description": f'created, "{name}"\nby the API',
                "tool_script": rng.choice(SCRIPTS), "created_date": "2024-05-01",
                "active_inactive": rng.choice(["Active", "Inactive"]),
                "can_be_reused_across_csp_teams": rng.choice(REUSE),
                "login": rng.choice(self.logins),
            }}
        key = self._key(variant == MISS)
        if kind == "update":
            return {"s_no": key, "updates": {
                "description": f"updated {rng.randrange(10**6)}",
                "active_inactive": rng.choice(["Active", "Inactive"]),
            }}
        return {"s_no": key}


def apply_op(engine, kind: str, args: dict):
    """Run one op against the engine. Returns (new engine, observed)."""
    if kind == "get_s_no":
        return engine, json.loads(engine.get_tools_envelope(s_no=args["s_no"]))
    if kind == "get_login":
        return engine, json.loads(engine.get_tools_envelope(login=args["login"]))
    if kind == "dashboard":
        return engine, collect_dashboard(engine)
    if kind == "create":
        res = engine.create_tool(args["record"])
        return res.engine, (res.status, res.s_no)
    if kind == "update":
        res = engine.update_tool(args["s_no"], args["updates"])
        return res.engine, res.status
    res = engine.delete_tool(args["s_no"])
    return res.engine, res.status


def expect(model: Model, kind: str, args: dict):
    if kind == "get_s_no":
        return model.envelope(s_no=args["s_no"])
    if kind == "get_login":
        return model.envelope(login=args["login"])
    if kind == "dashboard":
        return model.dashboard()
    if kind == "create":
        return model.create(args["record"])
    if kind == "update":
        return model.update(args["s_no"], args["updates"])
    return model.delete(args["s_no"])


def snapshot_rows(spark, store) -> dict[int, dict]:
    return {r["s_no"]: r.asDict() for r in store.read(spark).collect()}


def plan_nodes(df) -> int:
    """Operator count of the analyzed logical plan."""
    return df._jdf.queryExecution().analyzed().treeString().count("\n")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ------------------------------------------------------------------- run


class Client:
    """One closed-loop API client over its own snapshot store. Every
    op is checked against the model outside the timed call."""

    def __init__(self, spark, root: str, landing: dict, seed: int, tracer, traced: bool) -> None:
        from aws_csp_datapipeline_spark.sources.snapshot_store import SnapshotStore

        self.spark = spark
        self.store = SnapshotStore(root)
        self.landing = landing
        self.model = Model(landing["rows"])
        self.stream = OpStream(seed, self.model, landing["logins"])
        self.tracer = tracer
        self.traced = traced
        self.engine = None
        self.version = 0
        self.mutations = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = {}
        self.groups: dict[str, list[str]] = {}
        self.nodes: list[int] = []
        self.commit_bytes = 0

    def _group(self, group: str) -> None:
        self.tracer.trace_id = group
        common.set_job_group(self.spark, group)
        self.groups.setdefault(group.split("-")[0], []).append(group)

    def ingest(self) -> float:
        """Parse, clean and commit the landing files as version 1."""
        from aws_csp_datapipeline_spark.engine import CspToolsEngine

        self._group("ingest")
        with self.tracer.span("sources.ingest"):
            t0 = time.perf_counter()
            self.version = self.store.commit(read_landing(self.spark, self.landing["dir"]), 0)
            dt = time.perf_counter() - t0
        self.engine = CspToolsEngine(self.spark, self.store.read(self.spark))
        return dt

    def commit(self, timed: bool = True) -> None:
        """Commit the current table and re-read it from the store. An
        untimed commit records no latency, span or bytes."""
        from aws_csp_datapipeline_spark.engine import CspToolsEngine

        self._group(f"commit-{self.version + 1}")
        traced = timed and self.traced
        before = dir_bytes(self.store.root) if traced else 0
        span = self.tracer.span("snapshot_store.commit") if timed else contextlib.nullcontext()
        with span:
            t0 = time.perf_counter()
            self.version = self.store.commit(self.engine.table, self.version)
            self.engine = CspToolsEngine(self.spark, self.store.read(self.spark))
            dt = time.perf_counter() - t0
        if traced:
            self.commit_bytes += dir_bytes(self.store.root) - before
        if timed:
            self.lat.setdefault("commit", []).append(dt)

    def op(self, kind: str, variant: str | None) -> float | None:
        """Run one op; returns its time, or None if it raised."""
        args = self.stream.args(kind, variant)
        label = kind if variant is None else f"{kind}/{variant}"
        self._group(f"op-{self.attempted}")
        if self.traced:
            self.nodes.append(plan_nodes(self.engine.table))
        self.attempted += 1
        try:
            with self.tracer.span(f"engine.{kind}"):
                t0 = time.perf_counter()
                self.engine, got = apply_op(self.engine, kind, args)
                dt = time.perf_counter() - t0
        except Exception as exc:  # one failed op is a result, not a crash
            self.failures.append(f"{label}: {type(exc).__name__}: {exc}"[:300])
            return None
        want = expect(self.model, kind, args)
        if got != want:
            self.failures.append(f"{label}: got {str(got)[:120]} want {str(want)[:120]}")
        self.lat.setdefault(kind, []).append(dt)
        if kind in MUTATIONS and (want[0] if kind == "create" else want) in (200, 201):
            self.mutations += 1
            if self.mutations % COMMIT_EVERY == 0:
                self.commit()
        return dt

    def verify(self) -> None:
        """Commit (untimed), read the snapshot back and compare it with
        the model."""
        self.attempted += 1
        self.commit(timed=False)
        if snapshot_rows(self.spark, self.store) != self.model.rows:
            self.failures.append("snapshot read back differs from the model")


def run(seed: int, seconds: float, traced: bool) -> dict:
    tracer = common.Tracer(traced)

    def make_inputs(spark, i):
        return generate_landing(seed, os.path.join(common.WORK, f"landing_{i}"), ROWS)

    setup_s, session_s, spark, landing = common.timed_setup(make_inputs)

    # ---- untimed warm-up on a small table: ingest, every op kind and
    # error path once and an untimed commit, so the JIT is warm for the
    # timed ingest, ops and commits.
    t0 = time.perf_counter()
    warm_landing = generate_landing(seed + 1, os.path.join(common.WORK, "warm_landing"), WARM_ROWS)
    warm = Client(spark, os.path.join(common.WORK, "warm_store"), warm_landing, seed + 1,
                  common.Tracer(False), False)
    warm.ingest()
    for kind, variant in WARMUP:
        warm.op(kind, variant)
    warm.commit(timed=False)
    warmup_s = time.perf_counter() - t0

    # ---- timed: ingest, then whole decks until ``seconds`` have passed
    client = Client(spark, os.path.join(common.WORK, "store"), landing, seed, tracer, traced)
    ingest_s = client.ingest()
    op_times: list[float] = []
    decks = 0
    t_loop = time.perf_counter()
    while decks == 0 or time.perf_counter() - t_loop < seconds:
        for kind, variant in DECK:
            dt = client.op(kind, variant)
            if dt is not None:
                op_times.append(dt)
        decks += 1
    elapsed = time.perf_counter() - t_loop
    client.verify()

    lat = client.lat
    commits = lat.pop("commit", [])
    reads = lat.get("get_s_no", []) + lat.get("get_login", [])
    writes = lat.get("create", []) + lat.get("update", []) + lat.get("delete", [])
    detail = {
        **common.latency_detail(op_times),
        "warmup_s": warmup_s,
        "ingest_rows_per_s": ROWS / ingest_s,
        "read_p50_s": statistics.median(reads),
        "write_p50_s": statistics.median(writes),
        "dashboard_p50_s": statistics.median(lat.get("dashboard", [float("nan")])),
        "commit_p50_s": statistics.median(commits) if commits else float("nan"),
    }
    result = {
        "e2e": {"setup_s": setup_s, **common.op_metrics(op_times, elapsed)},
        "detail": detail,
        "samples": {k: len(v) for k, v in lat.items()}
        | {"commit": len(commits), "op_s": [round(t, 3) for t in op_times]},
        "attempted": warm.attempted + client.attempted,
        "failures": [f"warm-up {f}" for f in warm.failures] + client.failures,
        "spark": spark,
    }
    if traced:
        result["trace"] = {
            "tracer": tracer,
            "session_s": session_s,
            "warmup_s": warmup_s,
            "nodes": client.nodes,
            "groups": client.groups,
            "n_ops": len(op_times),
            "op_s": sum(op_times),
            "commit_bytes": client.commit_bytes,
            "ingest_s": ingest_s,
        }
    return result


def layer_metrics(result: dict, per_group: dict) -> dict:
    """Per-layer numbers of a traced crud_api run."""
    tr = result["trace"]
    tracer = tr["tracer"]
    op_groups = tr["groups"]["op"]
    ops = common.sum_groups(per_group, op_groups)
    ing = common.sum_groups(per_group, ["ingest"])
    n_ops = max(tr["n_ops"], 1)
    detail = result["detail"]
    return {
        "session.get_spark_s": tr["session_s"],
        "session.warmup_pass_s": tr["warmup_s"],
        "engine.plan_nodes": statistics.median(tr["nodes"]),
        "engine.plan_nodes_max": max(tr["nodes"]),
        "engine.jobs_per_op": ops.get("jobs", 0) / n_ops,
        "engine.stages_per_op": ops.get("stages", 0) / n_ops,
        "engine.self_s": sum(v for k, v in tracer.self_times().items() if k.startswith("engine.")),
        "engine.read_p50_s": detail["read_p50_s"],
        "engine.write_p50_s": detail["write_p50_s"],
        "engine.dashboard_p50_s": detail["dashboard_p50_s"],
        "sources.ingest_s": tr["ingest_s"],
        "sources.ingest_rows_per_s": detail["ingest_rows_per_s"],
        "sources.ingest_tasks": ing.get("tasks", 0),
        "sources.ingest_task_run_s": ing.get("task_run_s", 0.0),
        "snapshot_store.commit_s": tracer.total("snapshot_store.commit"),
        "snapshot_store.commit_p50_s": detail["commit_p50_s"],
        "snapshot_store.bytes_written": tr["commit_bytes"],
        **common.exec_metrics(per_group, op_groups, n_ops, tr["op_s"]),
    }
