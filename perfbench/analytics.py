"""The ``headline_small`` workload: cheap headline registry queries on
the sf0.01 tables, built and forced one after another by a single
closed-loop client. It is overhead-bound: per-query fixed cost
(driver-side plan build, stage scheduling) outweighs executor data
work.

Each query in a timed pass is preceded by ``clearCache()``, built with
its registry callable and forced with the full-column
``bit_xor(xxhash64(*cols))`` action (the forcing rule of ``bench.py``),
so no projection, window or join can be pruned away. The seed
permutes the query order of every pass.

Warm/cold contract: the JVM, JIT, codegen cache, ``catalog`` plan
handles and ``exprcache`` trees stay warm across passes (untimed
warm-up passes run first); data is always cold (``clearCache()`` before
every query).
"""

from __future__ import annotations

import os
import random
import statistics
import time

from perfbench import common

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

# Frozen query list, a subset of bench.py's HEADLINE; see README.md
# for why it is a subset and how it was chosen.
HEADLINE_SMALL = [
    "q1_pricing_summary",
    "j2_star_agg",
    "o3_topk",
    "p9_exists_semijoin",
    "w1_topk_per_group",
    "m7_dedup_by_keys",
    "t2_quality_score",
    "d1_exact_dedup",
    "s1_cosine_topk",
    "g4_grouping_sets",
    "st10_sliding_counts",
    "s16_random_projection",
]
SF = "sf0.01"
WARM_PASSES = 4


# ------------------------------------------------------------------ run


def force(df):
    """The forced action: one full-column hash aggregate, collected."""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))).collect()[0][0]


def run(seed: int, seconds: float, traced: bool) -> dict:
    from aws_csp_datapipeline_spark.plans import registry
    from tests import oracle

    names = HEADLINE_SMALL
    sf_dir = os.path.join(DATA, SF)
    tracer = common.Tracer(traced)
    py4j = common.Py4jCounter()
    setup_s, session_s, spark, _ = common.timed_setup(lambda _spark, _i: None)
    qs = registry.queries()
    oracle_sql = registry.oracle_sql()
    rng = random.Random(seed)
    failures: list[str] = []
    attempted = 0

    # ---- untimed warm-up. The first pass compares each query's
    # collected result with its DuckDB twin; the forced passes after it
    # run each query as the timed passes do, and the first forced
    # pass's hashes are the reference every later pass must reproduce.
    # Pass times keep falling for several forced passes (JIT), so the
    # warm-up runs WARM_PASSES of them before timing starts.
    reference: dict[str, int] = {}
    t0 = time.perf_counter()
    for name in names:
        attempted += 1
        spark.catalog.clearCache()
        try:
            oracle.compare(qs[name](spark, sf_dir), oracle_sql[name], sf_dir)
        except Exception as exc:  # a failed query is a result, not a crash
            failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
    for w in range(WARM_PASSES):
        for name in names:
            attempted += 1
            spark.catalog.clearCache()
            try:
                h = force(qs[name](spark, sf_dir))
            except Exception as exc:
                failures.append(f"warm-up {w}:{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            if reference.setdefault(name, h) != h:
                failures.append(f"warm-up {w}:{name}: forced hash {h} differs from {reference[name]}")
    warmup_s = time.perf_counter() - t0

    if traced:
        py4j.install()
    passes: list[float] = []
    op_times: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    counters = {"build_s": 0.0, "action_s": 0.0, "py4j_calls": 0, "persistent_rdds": 0}
    groups: list[str] = []
    t_loop = time.perf_counter()
    while time.perf_counter() - t_loop < seconds:
        order = names[:]
        rng.shuffle(order)
        p = len(passes)
        tp = time.perf_counter()
        for name in order:
            attempted += 1
            group = f"p{p}:{name}"
            tracer.trace_id = group
            if traced:
                common.set_job_group(spark, group)
                groups.append(group)
            spark.catalog.clearCache()
            try:
                with tracer.span("query"):
                    t0 = time.perf_counter()
                    with tracer.span("plans.build") as sp:
                        c0 = py4j.calls
                        df = qs[name](spark, sf_dir)
                        t1 = time.perf_counter()
                        if sp is not None:
                            sp["counters"]["py4j_calls"] = py4j.calls - c0
                    with tracer.span("exec.action"):
                        h = force(df)
                    dt = time.perf_counter() - t0
                if traced:
                    counters["build_s"] += t1 - t0
                    counters["action_s"] += t0 + dt - t1
                    counters["py4j_calls"] += sp["counters"]["py4j_calls"]
                    counters["persistent_rdds"] += len(spark.sparkContext._jsc.getPersistentRDDs())
            except Exception as exc:
                failures.append(f"{group}: {type(exc).__name__}: {exc}"[:300])
                continue
            if h != reference.get(name):
                failures.append(f"{group}: forced hash {h} differs from the warm-up's {reference.get(name)}")
            op_times.append(dt)
            per_query[name].append(dt)
        passes.append(time.perf_counter() - tp)
    py4j.uninstall()
    spark.catalog.clearCache()

    result = {
        # medians over passes, so a burst of host load that slows one
        # or two passes does not move the run's figures
        "e2e": {
            "setup_s": setup_s,
            "ops_per_s": len(names) / statistics.median(passes),
            "op_geomean_s": common.geomean(
                [statistics.median(ts) for ts in per_query.values() if ts]
            ),
        },
        "detail": {
            **common.latency_detail(op_times),
            "passes": len(passes),
            "pass_s": statistics.median(passes),
            "warmup_pass_s": warmup_s,
        },
        "samples": {"queries": len(op_times), "pass_s": [round(t, 3) for t in passes]},
        "attempted": attempted,
        "failures": failures,
        "spark": spark,
    }
    if traced:
        result["trace"] = {
            "tracer": tracer,
            "session_s": session_s,
            "warmup_s": warmup_s,
            "passes": passes,
            "counters": counters,
            "groups": groups,
        }
    return result


def layer_metrics(result: dict, per_group: dict) -> dict:
    """Per-layer numbers of a traced analytics run, per pass."""
    tr = result["trace"]
    n = len(tr["passes"])
    c = tr["counters"]
    return {
        "session.get_spark_s": tr["session_s"],
        "session.warmup_pass_s": tr["warmup_s"],
        "plans.build_s": c["build_s"] / n,
        "plans.py4j_calls": c["py4j_calls"] / n,
        "plans.build_share": c["build_s"] / sum(tr["passes"]),
        "cache.persistent_rdds": c["persistent_rdds"] / n,
        **common.exec_metrics(per_group, tr["groups"], n, c["action_s"]),
    }
