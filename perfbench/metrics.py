"""Metric definitions: harness result -> reported numbers.

End to end (`--trace 0`), over untraced passes:
  setup_s    input generation (median of three) + JVM start + session
             build + the warm-up pass(es)
  pass_s     median wall seconds of one pass over the workload
  op_median_avg_s
             typical latency of one operation: the mean, over the
             workload's operations (each board query; `runOnce` on
             medallion_minute), of each one's median latency. A pooled
             median of a board sits between two query groups and moves
             with those two queries only; this average weighs in every
             query. The pooled median is on the detail line (`op_p50_s`).
  op_tail_s  latency at the workload's fixed tail percentile
Failed operations are the `failed` count of the result line (their share
of `attempted` is the failure fraction; it is 0 on a healthy run, so it
is not a metric).

Per layer (`--trace 1`), medians over traced passes of per-pass sums of
span self times and listener counts; see `workloads.json` for the
layer -> end-to-end map. The seconds of each medallion step go to the
detail line (`stage_s`).
"""
import math
import statistics

# Every workload measures every metric here: a layer a workload does not
# have reads 0 only for shares and counts, never for a time. Medallion
# runs split each pipeline step like a board query, into construction
# (queries.build), planning (plans.plan) and execution (spark.exec).
STAGES = ["pipeline.extract", "pipeline.format", "pipeline.enrich",
          "pipeline.usage", "pipeline.metrics", "lake.sink"]
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"), ("plans.plan_s", "s"),
    ("spark.exec_s", "s"), ("spark.exec_jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_busy_frac", "frac"),
    ("spark.gc_frac", "frac"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
] + [(f"{st}_share", "frac") for st in STAGES] + [
    ("pipeline.format_tasks", "count"), ("pipeline.format_busy_frac", "frac"),
    ("pipeline.rows_dropped", "count"), ("pipeline.enrich_jobs", "count"),
    ("pipeline.kmeans_path", "frac"), ("lake.docs_upserted", "count"),
    ("jvm.gc_s", "s"), ("storage.resid_blocks", "count"),
    ("trace.pass_traced_s", "s"), ("trace.pass_untraced_s", "s"),
    ("trace.overhead_s", "s"), ("trace.self_sum_s", "s"),
    ("trace.unattributed_jobs", "count"),
]

MB = 1024.0 * 1024.0


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-13:
            break
    return h


def _betainc(a, b, x):
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def percentile(values, pct):
    """Harrell-Davis estimate of the `pct` percentile.

    A weighted mean of all order statistics rather than one or two of
    them: a board mixes queries of very different cost, and a plain
    order statistic jumps between query groups when one sample moves.
    """
    xs = sorted(values)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else float("nan")
    p = pct / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(kind, result):
    """Per-layer numbers (medians over traced passes) and, for the
    detail line, the seconds each pipeline step took."""
    tr = result["trace"]
    cores = tr["cores"]
    spans = tr["spans"]
    traced = [p["pass"] for p in result["passes"] if p["traced"]]
    by_id = {s["id"]: s for s in spans}

    def stage_of(s):
        while s["parent"] >= 0 and s["name"] not in STAGES:
            s = by_id[s["parent"]]
        return s["name"] if s["name"] in STAGES else None

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    rows = []
    for p in traced:
        ps = [s for s in spans if s["pass"] == p]
        m = {}
        build = [s for s in ps if s["name"] == "queries.build"]
        scope = [s for s in ps if s["name"] == "spark.exec"]
        exec_s = sum(s["self_s"] for s in scope)
        run_s = sum(s["task_run_s"] for s in scope)
        m["queries.build_s"] = sum(s["self_s"] for s in build)
        m["queries.build_jobs"] = sum(s["jobs"] for s in build)
        m["plans.plan_s"] = sum(s["self_s"] for s in ps if s["name"] == "plans.plan")
        m["spark.exec_s"] = exec_s
        m["spark.exec_jobs"] = sum(s["jobs"] for s in scope)
        m["spark.stages"] = sum(s["stages"] for s in scope)
        m["spark.tasks"] = sum(s["tasks"] for s in scope)
        m["spark.task_busy_frac"] = run_s / (exec_s * cores) if exec_s else 0.0
        m["spark.gc_frac"] = sum(s["task_gc_s"] for s in scope) / run_s if run_s else 0.0
        m["spark.shuffle_write_mb"] = sum(s["shuffle_write_bytes"] for s in scope) / MB
        m["spark.spill_mb"] = sum(s["spill_bytes"] for s in scope) / MB
        m["spark.peak_exec_mem_mb"] = max([s["peak_exec_mem_bytes"] for s in scope] or [0]) / MB
        m["jvm.gc_s"] = tr["pass_gc_s"].get(str(p), 0.0)
        m["storage.resid_blocks"] = tr["resid_blocks"].get(str(p), 0)
        m["trace.self_sum_s"] = sum(s["self_s"] for s in ps)
        if kind == "medallion":
            run_wall = sum(dur(s) for s in ps if s["name"] == "run")
            for st in STAGES:
                m[f"{st}_s"] = sum(dur(s) for s in ps if s["name"] == st)
                m[f"{st}_share"] = m[f"{st}_s"] / run_wall if run_wall else 0.0
            fmt = [s for s in ps if stage_of(s) == "pipeline.format"]
            fmt_s = m["pipeline.format_s"]
            m["pipeline.format_tasks"] = sum(s["tasks"] for s in fmt)
            m["pipeline.format_busy_frac"] = (
                sum(s["task_run_s"] for s in fmt) / (fmt_s * cores) if fmt_s else 0.0)
            m["pipeline.enrich_jobs"] = sum(
                s["jobs"] for s in ps if stage_of(s) == "pipeline.enrich")
        rows.append(m)

    out = {name: _med([r[name] for r in rows if name in r]) for name, _ in PER_LAYER}
    traced_walls = [p["wall_s"] for p in result["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    out["trace.pass_traced_s"] = _med(traced_walls)
    out["trace.pass_untraced_s"] = _med(untraced)
    out["trace.overhead_s"] = out["trace.pass_traced_s"] - out["trace.pass_untraced_s"]
    out["trace.unattributed_jobs"] = tr["unattributed_jobs"]
    stage_s = {}
    if kind == "medallion":
        runs = [r for r in result["checks"]["runs"] if r["pass"] in traced]
        out["pipeline.kmeans_path"] = (
            sum(1 for r in runs if r.get("off_rule_rows", 0) > 0) / len(runs) if runs else 0.0)
        out["lake.docs_upserted"] = _med([r.get("docs", 0) for r in runs])
        out["pipeline.rows_dropped"] = _med(
            [r["states"] - r["expected_rows"] for r in runs])
        stage_s = {f"{st}_s": _med([r[f"{st}_s"] for r in rows]) for st in STAGES}
    return {name: {"value": out[name], "unit": unit} for name, unit in PER_LAYER}, stage_s


def report(wl, result, verdict, gen_s, trace):
    untraced_passes = {p["pass"] for p in result["passes"] if not p["traced"]}
    timed = [o for o in result["ops"] if o["pass"] >= 0]
    bad = set(verdict["failures"])
    failed = [o for o in timed if o["error"] or o["op"] in bad]
    good = [o for o in timed if o["pass"] in untraced_passes
            and not o["error"] and o["op"] not in bad]
    lat = [o["s"] for o in good]
    by_op = {}
    for o in good:
        by_op.setdefault(o["op"] if wl["kind"] == "board" else "runOnce", []).append(o["s"])
    median_avg = (statistics.fmean(statistics.median(v) for v in by_op.values())
                  if by_op else float("nan"))
    walls = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    setup = result["setup"]
    setup_s = gen_s + setup["jvm_to_main_s"] + setup["session_s"] + setup["warmup_s"]
    tail_pct = wl["tail_pct"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (_med(walls), "s"),
        "op_median_avg_s": (median_avg, "s"),
        "op_tail_s": (percentile(lat, tail_pct), "s"),
    }
    detail = {
        "ops": len(timed), "failed_ops": len(failed),
        "failed_frac": len(failed) / len(timed) if timed else 1.0,
        "failures": {k: v for k, v in sorted(verdict["failures"].items())},
        "errors": sorted({f"{o['op']}: {o['error']}" for o in timed if o["error"]}),
        "op_p50_s": percentile(lat, 50),
        "untraced_passes": len(walls), "tail_pct": tail_pct, "tail_samples": len(lat),
        "tail_beyond": sum(1 for x in lat if x > e2e["op_tail_s"][0]),
        "setup": {"gen_s": gen_s, **setup},
        "session_factory": result["session"]["factory"],
        "session_conf": {k: v for k, v in result["session"]["conf"].items()
                         if k.startswith(("spark.sql.", "spark.master", "spark.driver.host"))},
        "java_options": [o for o in result["session"]["java_options"]
                         if not o.startswith(("--add-opens", "java.base/"))],
        "cores": result["session"]["cores"],
    }
    if trace:
        metrics, detail["stage_s"] = _layer_metrics(wl["kind"], result)
        detail["trace_overhead_s"] = metrics["trace.overhead_s"]["value"]
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"attempted": max(len(timed), 1), "failed": len(failed) if timed else 1,
            "metrics": metrics, "detail": detail}
