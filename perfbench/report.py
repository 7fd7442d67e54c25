"""Turns the JVM's raw samples into checked, named metrics.

`end_to_end` and `per_layer` give every metric BENCHMARK.json lists, for
any workload; `check` gives the per-operation verdicts behind `failed`.
"""
import glob
import statistics

import stats

MB = float(1 << 20)
# The catalog slice: one short query for each of most operator objects
# SparkEntry maps keys to, plus q38 (the most construction-heavy) and q43
# (the one output checked by row count only). The whole catalog takes
# minutes a pass and a run must stay within a minute, so objects whose
# every query takes seconds (Clusters, Alerts), and Reshape, under 1% of
# the whole catalog's executor time, are left out.
CATALOG = [
    "q02_filter_project", "q11_forward_fill", "q20_dedup_exact", "q28_lang_id",
    "q38_what_if", "q43_percentiles_approx", "q47_split_assign", "q52_pii_redact",
    "q64_funnel", "q69_filter_attrition", "q144_label_propagation",
]
# operations whose builder does not return a frame: their driver-side
# construction is the time until their first Spark job starts
FLOW_KINDS = {"admit"}
# the graft object each kind of non-query operation calls into
ENTRY = {"admit": "Admit", "serve": "TextRank"}
# outputs with no engine-portable oracle, checked by row count against
# the exact twin's oracle
ROWS_ONLY = {"q43_percentiles_approx": "q32_percentiles"}
ADMIT_COUNTS = ["admitted", "exact_rejected", "near_dup_rejected",
                "semantic_rejected", "intra_rejected"]


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def passes_of(raw, traced):
    """The run's samples restricted to its traced or its untraced passes."""
    passes = [p for p in raw["passes"] if p["traced"] == traced]
    keep = {p["pass"] for p in passes}
    return dict(raw, passes=passes, ops=[o for o in raw["ops"] if o["pass"] in keep])


def end_to_end(raw):
    """Every end-to-end metric, from the run's untraced passes."""
    raw = passes_of(raw, traced=False)
    passes = raw["passes"]

    def pass_ops(p):
        return [o for o in raw["ops"] if o["pass"] == p["pass"]]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "op_geomean_s": (op_geomean(raw["ops"]), "s"),
        "op_max_s": (statistics.median(max(o["wall_s"] for o in pass_ops(p))
                                       for p in passes), "s"),
        "pinned_peak_mb": (max(o["pinned_peak_bytes"] for o in raw["ops"]) / MB, "MB"),
    }


def op_geomean(ops):
    """Geometric mean over operation names of each one's median wall. The
    median of all walls would sit in whichever gap separates two clusters
    of query costs and jump between runs; this weighs every query alike."""
    walls = {}
    for o in ops:
        walls.setdefault(o["name"], []).append(o["wall_s"])
    return statistics.geometric_mean(statistics.median(w) for w in walls.values())


def by_kind(raw):
    """Per-operation-kind timing summaries of the untraced passes: median,
    count, and p90/p99 where ten samples lie beyond them."""
    kinds = {}
    for o in passes_of(raw, traced=False)["ops"]:
        kinds.setdefault(o["kind"], []).append(o["wall_s"])
    return {k: stats.summary(v) for k, v in kinds.items()}


def _per_pass(raw, fn):
    """Median over passes of fn(ops of that pass, pass record)."""
    out = []
    for p in raw["passes"]:
        ops = [o for o in raw["ops"] if o["pass"] == p["pass"]]
        out.append(fn(ops, p))
    return _median(out)


def _construct(o):
    return o["first_job_at_s"] if o["kind"] in FLOW_KINDS else o["construct_s"]


def trace_overhead(raw):
    """The workload's own passes: median traced pass wall over median
    untraced pass wall, minus one. A traced run alternates the two."""
    def wall(traced):
        return statistics.median(p["wall_s"] for p in passes_of(raw, traced)["passes"])
    return wall(True) / wall(False) - 1.0


def attributed(objects):
    """The graft objects whose share of executor time is published: those
    the catalog slice's queries map to, and the entry points the other
    workloads call."""
    return sorted({objects[q] for q in CATALOG} | set(ENTRY.values()))


def task_s_by_object(raw, objects, published=None):
    """Executor time per graft object: the innermost `graft.` frame of the
    callsite that submitted each stage. Stages with no graft frame, such
    as the benchmark's own write or collect of a returned frame, and, when
    `published` is given, stages under any object outside it (Admit's
    calls into Ingest, a query's Tables.load) go to the object of the
    entry point the operation called (for a query, the one SparkEntry
    maps it to)."""
    out = {}
    for o in raw["ops"]:
        entry = objects.get(o["name"], "-") if o["kind"] == "query" else ENTRY[o["kind"]]
        for obj, t in o["task_s_by_object"].items():
            if obj == "-" or (published is not None and obj not in published):
                obj = entry
            out[obj] = out.get(obj, 0.0) + t
    return out


def per_layer(raw, checks, objects):
    """Layer metrics of the traced passes; admission and serving counts
    per pass over every timed pass."""
    n_pass = max(1, len(raw["passes"]))
    overhead = trace_overhead(raw)
    raw = passes_of(raw, traced=True)

    def summed(key, scale=1.0):
        return _per_pass(raw, lambda ops, p: sum(o[key] for o in ops) / scale)

    m = {
        "construct_s": (_per_pass(raw, lambda ops, p: sum(map(_construct, ops))), "s"),
        "plan_s": (summed("plan_s"), "s"),
        "codegen_s": (_per_pass(raw, lambda ops, p: p["codegen_s"]), "s"),
        "codegen_n": (_per_pass(raw, lambda ops, p: p["codegen_n"]), "count"),
        "jobs": (summed("jobs"), "count"),
        "stages": (summed("stages"), "count"),
        "tasks": (summed("tasks"), "count"),
        "unended_jobs": (summed("unended_jobs"), "count"),
        "driver_gap_s": (_per_pass(
            raw, lambda ops, p: sum(o["wall_s"] - o["job_union_s"] for o in ops)), "s"),
        "task_s": (summed("task_s"), "s"),
        "shuffle_write_mb": (summed("shuffle_write_bytes", MB), "MB"),
        "shuffle_read_mb": (summed("shuffle_read_bytes", MB), "MB"),
        "spill_mb": (summed("spill_bytes", MB), "MB"),
        "persisted_rdds": (summed("persisted_rdds"), "count"),
        "store_files": (_median(p["store"].get("files", 0) for p in raw["passes"]), "count"),
        "store_mb": (_median(p["store"].get("bytes", 0) for p in raw["passes"]) / MB, "MB"),
        "trace_overhead_frac": (overhead, "frac"),
    }
    published = attributed(objects)
    by_obj = task_s_by_object(raw, objects, published)
    total = sum(by_obj.values()) or 1.0
    for obj in published:
        m[f"op.{obj}.task_frac"] = (by_obj.get(obj, 0.0) / total, "frac")
    # per timed pass; set-up's untimed cycle is pass -1
    reports = [r for r in checks.get("reports", []) if r["pass"] >= 0]
    for k in ADMIT_COUNTS:
        m[f"admit.{k}"] = (sum(r[k] for r in reports) / n_pass, "count")
    served = [s for s in checks.get("served", []) if s["pass"] >= 0]
    m["serve.queries"] = (sum(s["queries"] for s in served) / n_pass, "count")
    m["serve.self_hits"] = (sum(s["self_hits"] for s in served) / n_pass, "count")
    for q, r in raw["probe"].items():
        m[f"pruning.{q.split('_')[0]}.noop_over_count"] = (r["noop_s"] / r["count_s"], "x")
    return m


# -- output checks ---------------------------------------------------------

def _check_catalog(raw, data_dir):
    """Fingerprint each query's set-up output against the same query
    replayed by DuckDB over the same generated tables."""
    import duckdb
    import pandas as pd
    c = raw["checks"]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {q: "failed in set-up" for q in c["failed"]}
    for q in c["order"]:
        if q in bad:
            continue
        files = sorted(glob.glob(f"{c['outputs']}/{q}/*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        rows_only = q in ROWS_ONLY
        sql = c["oracle_sql"].get(ROWS_ONLY.get(q, q))
        if got is None or sql is None:
            bad[q] = "no output" if got is None else "no oracle"
            continue
        want = con.sql(sql).df()
        if sorted(got.columns) != sorted(want.columns):
            bad[q] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        elif stats.fingerprint(got, rows_only) != stats.fingerprint(want, rows_only):
            bad[q] = f"fingerprint (rows {len(got)} vs {len(want)})"
    return {name: bad.get(name) for name in c["order"]}, bad


def _check_admit(raw):
    """Report counts per screen match the batch's make-up, and every
    served query returns exactly k rows."""
    bad = {}
    c = raw["checks"]
    for r in c["reports"]:
        want = {"input": r["expect_admitted"] + r["expect_exact"],
                "admitted": r["expect_admitted"], "exact_rejected": r["expect_exact"],
                "near_dup_rejected": 0, "semantic_rejected": 0, "intra_rejected": 0,
                "contaminated_rejected": 0, "quality_rejected": 0}
        diff = {k: (r[k], v) for k, v in want.items() if r[k] != v}
        if diff:
            bad[(r["pass"], r["name"])] = f"report (got, want): {diff}"
    for s in c["served"]:
        if any(n != c["k"] for n in s["rows_per_query"]):
            bad[(s["pass"], s["name"])] = f"rows per query {s['rows_per_query']}"
    return bad


def check(workload, raw, data_dir):
    """(attempted, failed, problems): operations timed, operations that
    threw or whose output check failed, and what was wrong."""
    ops = raw["ops"]
    failed = [o for o in ops if not o["ok"]]
    problems = {f"{o['kind']} {o['name']} pass {o['pass']}": "threw" for o in failed}
    if workload == "catalog":
        _, bad = _check_catalog(raw, data_dir)
        problems.update({f"query {q}": why for q, why in bad.items()})
        failed += [o for o in ops if o["ok"] and o["name"] in bad]
    else:
        bad = _check_admit(raw)
        problems.update({f"{k} pass {p}": v for (p, k), v in bad.items()})
        failed += [o for o in ops if o["ok"] and (o["pass"], o["name"]) in bad]
    return len(ops), len(failed), problems


def entry_objects(entry_source):
    """Query key -> the operator object SparkEntry maps it to, read from
    SparkEntry's source ("q48_..." -> (s, d) => Sampling.q48...)."""
    import re
    out = {}
    for m in re.finditer(r'"(q\d+_\w+)"\s*->.*?([A-Z]\w*)\.q\d+', entry_source):
        out[m.group(1)] = m.group(2)
    return out


def layer_detail(raw, objects):
    """Per operation kind (and, for queries, per operator object) layer
    numbers: medians over traced passes of per-pass sums."""
    raw = passes_of(raw, traced=True)
    def group_key(o):
        return f"query.{objects.get(o['name'], '?')}" if o["kind"] == "query" else o["kind"]

    keys = sorted({group_key(o) for o in raw["ops"]})
    out = {}
    for g in keys:
        def pick(ops, p, f):
            return sum(f(o) for o in ops if group_key(o) == g)
        out[g] = {
            "wall_s": _per_pass(raw, lambda ops, p: pick(ops, p, lambda o: o["wall_s"])),
            "construct_s": _per_pass(raw, lambda ops, p: pick(ops, p, _construct)),
            "plan_s": _per_pass(raw, lambda ops, p: pick(ops, p, lambda o: o["plan_s"])),
            "jobs": _per_pass(raw, lambda ops, p: pick(ops, p, lambda o: o["jobs"])),
            "driver_gap_s": _per_pass(raw, lambda ops, p: pick(
                ops, p, lambda o: o["wall_s"] - o["job_union_s"])),
            "task_s": _per_pass(raw, lambda ops, p: pick(ops, p, lambda o: o["task_s"])),
        }
    out["task_s_by_object"] = task_s_by_object(raw, objects)
    return out
