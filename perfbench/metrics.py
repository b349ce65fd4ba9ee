"""Turns the benchmark JVM's raw record into checked results and metrics.

Pure functions over the record (see src/main/scala/perfbench/Main.scala for
its shape), so they can be unit-tested without a JVM (test_metrics.py).
"""
import json
import os
import statistics
import sys

MB = 1048576.0
# a traced query reconciles when its build, catalyst, job-busy and driver-gap
# self times sum to its wall time within this much
RECONCILE_ABS_S = 0.010
RECONCILE_REL = 0.02


# ---- order statistics ----

def tail_rank(n, beyond=10):
    """Index (0-based, ascending order) of the highest order statistic with at
    least `beyond` samples above it, or None when n is too small."""
    k = n - beyond - 1
    return k if k >= 0 else None


def tail_rule(n, beyond=10):
    """The tail percentile for a workload of n samples per run (its query
    count times its fewest rounds): as (k + 1, n), the highest nearest-rank
    percentile that still has at least `beyond` samples beyond it. None when
    that would fall below the median (fewer than 2 * beyond + 1 samples): such
    a workload has no measurable tail percentile, and the median over rounds
    of each round's slowest execution stands in for it."""
    k = tail_rank(n, beyond)
    return None if k is None or k < n // 2 else (k + 1, n)


def tail(rounds, rule):
    """(value, percentile) of the latencies in `rounds` (one list per round)
    under the workload's fixed `rule` (tail_rule). A run with more rounds
    than the fewest keeps the same percentile, with more samples beyond it;
    the fallback reports percentile 100."""
    if rule is None:
        return statistics.median(max(r) for r in rounds), 100.0
    num, den = rule
    xs = sorted(x for r in rounds for x in r)
    rank = (num * len(xs) + den - 1) // den  # ceil(len(xs) * num / den)
    return xs[rank - 1], 100.0 * num / den


def by_round(execs):
    """The executions of each round, in round order."""
    rounds = {}
    for e in execs:
        rounds.setdefault(e["round"], []).append(e)
    return [rounds[r] for r in sorted(rounds)]


def round_wall(execs):
    """Wall time of one round: first start to last end, in seconds."""
    return (max(e["end_ms"] for e in execs) - min(e["start_ms"] for e in execs)) / 1e3


# ---- intervals and self time ----

def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def breakdown(ex, jobs, phases):
    """Self-time split of one traced query execution, in seconds.

    `ex` has start_ms, build_end_ms, end_ms; `jobs` are the execution's
    write-phase jobs and `phases` the Catalyst phases inside its write window,
    each as (start_ms, end_ms). Jobs started inside the builder call belong to
    the build time, so they are never counted twice. Returns the parts and the
    reconciliation error: how far their sum, taken from the unclipped spans,
    is from the wall time (overlapping or out-of-window spans show up here)."""
    w0, w1 = ex["build_end_ms"], ex["end_ms"]
    wall = (ex["end_ms"] - ex["start_ms"]) / 1e3
    build = (w0 - ex["start_ms"]) / 1e3
    catalyst = sum(e - s for s, e in phases) / 1e3
    busy = union_length(jobs) / 1e3
    gap = self_time((w0, w1), list(phases) + list(jobs)) / 1e3
    err = abs(build + catalyst + busy + gap - wall)
    return {"wall_s": wall, "build_s": build, "catalyst_s": catalyst,
            "job_busy_s": busy, "driver_gap_s": gap, "reconcile_err_s": err}


def reconciles(parts):
    return parts["reconcile_err_s"] <= RECONCILE_ABS_S + RECONCILE_REL * parts["wall_s"]


# ---- result checks ----

def verdict(rec, expected):
    """Compares the run's checks with the expected results and folds in the
    failed executions and the timed-region guards."""
    problems = []
    wrong = set()
    rows = {}
    for c in rec["checks"]:
        q = c["query"]
        rows[q] = c["rows"]
        exp = expected.get(q)
        if c["error"] is not None:
            problems.append(f"{q}: check failed: {c['error'][:200]}")
            wrong.add(q)
        elif exp is None:
            problems.append(f"{q}: no expected result recorded")
            wrong.add(q)
        elif c["rows"] != exp["rows"]:
            problems.append(f"{q}: {c['rows']} rows, expected {exp['rows']}")
            wrong.add(q)
        elif exp.get("digest") is not None and c["digest"] != exp["digest"]:
            problems.append(f"{q}: content digest {c['digest']} differs from {exp['digest']}")
            wrong.add(q)
    m = rec.get("margin_check")
    if m is not None and (m["mismatches"] or m["sampled"] != m["expected"]):
        problems.append(f"xgb margins: {m['mismatches']} of {m['sampled']} sampled differ "
                        f"from the scalar model ({m['expected']} ids drawn)")
        wrong.add("q_score_exact")
    timed = rec["timed"]
    guarded = set()
    for g in timed["guards"]:
        problems.append(f"guard {g['kind']} at {g['query']}: {g['detail']}")
        guarded.add(g["query"])
    execs = timed["execs"]
    failed = 0
    for ex in execs:
        bad = ex["error"] is not None or ex["query"] in wrong or ex["query"] in guarded
        failed += bad
        if ex["error"] is not None:
            problems.append(f"{ex['query']} (round {ex['round']}) failed: {ex['error'][:200]}")
    if "*" in guarded:
        failed = len(execs)
    return {"correct": not problems, "attempted": len(execs), "failed": failed,
            "problems": problems, "rows": rows}


def record_expected(path, workload, rec):
    """Stores this run's check results as the expected ones. A query whose
    digest differs from an earlier recording is kept with its row count only
    and listed under "unstable"."""
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    exp = data.setdefault(workload, {})
    unstable = set(data.setdefault("unstable", {}).get(workload, []))
    for c in rec["checks"]:
        if c["error"] is not None:
            continue
        q, old = c["query"], exp.get(c["query"])
        digest = None if q in unstable else c["digest"]
        if old is not None:
            if old["rows"] != c["rows"]:
                raise SystemExit(f"{q}: row count changed between recordings "
                                 f"({old['rows']} vs {c['rows']})")
            if old["digest"] != digest:
                unstable.add(q)
                digest = None
        exp[q] = {"rows": c["rows"], "digest": digest}
    data["unstable"][workload] = sorted(unstable)
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


# ---- end-to-end metrics (untraced run) ----

def setup_seconds(rec):
    """JVM start (RuntimeMXBean) to the start of the first timed query."""
    return (rec["timed"]["start_ms"] - rec["jvm_start_ms"]) / 1e3


def rows_per_second(execs, rows):
    """Customer rows scored by q_score_exact per second of its wall time."""
    scored = [e for e in execs if e["query"] == "q_score_exact"]
    t = sum(e["lat_s"] for e in scored)
    return len(scored) * (rows.get("q_score_exact") or 0) / t if t > 0 else 0.0


def end_to_end(rec, v, spec):
    """Rates are medians over the run's rounds, so a stall that hits one round
    moves them less."""
    timed = rec["timed"]
    rounds = by_round(timed["execs"])
    ok_rounds = [[e for e in r if e["error"] is None] for r in rounds]
    lats = [e["lat_s"] for r in ok_rounds for e in r] or [timed["wall_s"]]
    rule = tail_rule(len(spec["queries"]) * spec["min_rounds"])
    tail_v, pct = tail([[e["lat_s"] for e in r] for r in ok_rounds if r] or [lats], rule)
    qps = statistics.median(len(okr) / round_wall(r) for r, okr in zip(rounds, ok_rounds))
    rows = statistics.median(rows_per_second(r, v["rows"]) for r in ok_rounds)
    print(f"[perfbench] {len(timed['execs'])} executions in {timed['rounds']} rounds, "
          f"{timed['wall_s']:.2f} s; query_tail_s is "
          + (f"p{pct:.1f} (the {rule[0]}th of {rule[1]} samples, ten beyond)" if rule else
             "the median over rounds of each round's slowest execution"),
          file=sys.stderr)
    return {
        "setup_s": (setup_seconds(rec), "s"),
        "queries_per_s": (qps, "1/s"),
        "query_p50_s": (statistics.median(lats), "s"),
        "query_tail_s": (tail_v, "s"),
        "rows_per_s": (rows, "1/s"),
        "heap_live_peak_mb": (timed["heap_live_peak_mb"], "MB"),
    }


# ---- per-layer metrics (traced run) ----

def attribute(rec):
    """Per traced execution: its jobs, stages, Catalyst phases and
    micro-batches, plus its self-time breakdown."""
    timed, tr = rec["timed"], rec["timed"]["trace"]
    execs = [e for e in timed["execs"] if e["traced"]]
    per = {str(e["id"]): {"ex": e, "jobs": {"build": [], "write": []}, "stages": {"build": [], "write": []},
                          "actions": {}, "batches": []} for e in execs}
    for j in tr["jobs"]:
        if j["exec"] in per:
            per[j["exec"]]["jobs"]["build" if j["phase"] == "build" else "write"].append(j)
    for s in tr["stages"]:
        if s["exec"] in per:
            per[s["exec"]]["stages"]["build" if s["phase"] == "build" else "write"].append(s)

    def owner(t_ms):
        for e in execs:
            if e["start_ms"] <= t_ms <= e["end_ms"]:
                return e
        return None

    actions = {}
    for p in tr["phases"]:
        actions.setdefault(p["action"], []).append(p)
    for ps in actions.values():
        end = max(p["end_ms"] for p in ps)
        e = owner(end)
        if e is not None:
            per[str(e["id"])]["actions"][ps[0]["action"]] = ps
    for b in tr["batches"]:
        e = owner(b["start_ms"])
        if e is not None:
            per[str(e["id"])]["batches"].append(b)

    for eid, d in per.items():
        ex = d["ex"]
        w0 = ex["build_end_ms"]
        write_phases = [(p["start_ms"], p["end_ms"]) for ps in d["actions"].values()
                        for p in ps if p["end_ms"] >= w0 and p["name"] != "parsing"]
        d["write_phase_names"] = {}
        for ps in d["actions"].values():
            for p in ps:
                if p["end_ms"] >= w0:
                    d["write_phase_names"][p["name"]] = d["write_phase_names"].get(p["name"], 0.0) + \
                        (p["end_ms"] - p["start_ms"]) / 1e3
        jobs = [(j["start_ms"], j["end_ms"]) for j in d["jobs"]["write"]]
        d["parts"] = breakdown(ex, jobs, write_phases)
    return per


def _sum(items, key):
    return sum(x[key] for x in items)


def exec_record(d):
    ex, parts = d["ex"], d["parts"]
    ws, allst = d["stages"]["write"], d["stages"]["build"] + d["stages"]["write"]
    r = {"query": ex["query"], "id": ex["id"], "round": ex["round"]}
    r.update(parts)
    r.update({
        "build_jobs": len(d["jobs"]["build"]),
        "build_stages": len(d["stages"]["build"]),
        "build_tasks": _sum(d["stages"]["build"], "tasks"),
        "build_task_run_s": _sum(d["stages"]["build"], "run_ms") / 1e3,
        "actions": len(d["actions"]),
        "analysis_s": d["write_phase_names"].get("analysis", 0.0),
        "optimization_s": d["write_phase_names"].get("optimization", 0.0),
        "planning_s": d["write_phase_names"].get("planning", 0.0),
        "jobs": len(d["jobs"]["write"]),
        "stages": len(ws),
        "stages_skipped": sum(j["skipped"] for j in d["jobs"]["write"]),
        "tasks": _sum(ws, "tasks"),
        "tasks_failed": _sum(ws, "tasks_failed"),
        "task_run_s": _sum(ws, "run_ms") / 1e3,
        "task_cpu_s": _sum(ws, "cpu_ns") / 1e9,
        "task_gc_s": _sum(ws, "gc_ms") / 1e3,
        "task_wall_s": _sum(allst, "task_wall_ms") / 1e3,
        "shuffle_read_mb": _sum(ws, "shuffle_read") / MB,
        "shuffle_write_mb": _sum(ws, "shuffle_write") / MB,
        "spill_mb": _sum(ws, "spill") / MB,
        "input_mb": _sum(allst, "input_bytes") / MB,
        "input_rows": _sum(allst, "input_rows"),
        "cpu_ns_all": _sum(allst, "cpu_ns"),
        "batches": len(d["batches"]),
        "batch_s": sum(b["end_ms"] - b["start_ms"] for b in d["batches"]) / 1e3,
        "gc_s": ex["gc_s"],
    })
    return r


def spans(per):
    """run -> query -> build / write -> catalyst phase / job / micro-batch ->
    stage, each with its self time."""
    out = []
    nid = [0]

    def add(name, kind, s, e, parent, children=()):
        nid[0] += 1
        out.append({"id": nid[0], "parent": parent, "name": name, "kind": kind,
                    "start_ms": s, "end_ms": e,
                    "self_ms": self_time((s, e), list(children))})
        return nid[0]

    execs = [d["ex"] for d in per.values()]
    if not execs:
        return out
    run = add("run", "run", min(e["start_ms"] for e in execs), max(e["end_ms"] for e in execs),
              None, [(e["start_ms"], e["end_ms"]) for e in execs])
    for d in per.values():
        ex = d["ex"]
        q = add(ex["query"], "query", ex["start_ms"], ex["end_ms"], run,
                [(ex["start_ms"], ex["build_end_ms"]), (ex["build_end_ms"], ex["end_ms"])])
        for phase, lo, hi in (("build", ex["start_ms"], ex["build_end_ms"]),
                              ("write", ex["build_end_ms"], ex["end_ms"])):
            kids = []
            cat = [p for ps in d["actions"].values() for p in ps
                   if (p["end_ms"] >= ex["build_end_ms"]) == (phase == "write")]
            kids += [(p["start_ms"], p["end_ms"]) for p in cat]
            kids += [(j["start_ms"], j["end_ms"]) for j in d["jobs"][phase]]
            bs = [b for b in d["batches"] if (b["start_ms"] >= ex["build_end_ms"]) == (phase == "write")]
            kids += [(b["start_ms"], b["end_ms"]) for b in bs]
            pid = add(phase, phase, lo, hi, q, kids)
            for p in cat:
                add(p["name"], "catalyst", p["start_ms"], p["end_ms"], pid)
            for b in bs:
                add(f"batch {b['batch']}", "micro_batch", b["start_ms"], b["end_ms"], pid)
            for j in d["jobs"][phase]:
                st = [s for s in d["stages"][phase] if s["start_ms"] >= j["start_ms"] and s["end_ms"] <= j["end_ms"]]
                jid = add(f"job {j['id']}", "job", j["start_ms"], j["end_ms"], pid,
                          [(s["start_ms"], s["end_ms"]) for s in st])
                for s in st:
                    add(f"stage {s['id']}.{s['attempt']}", "stage", s["start_ms"], s["end_ms"], jid)
    return out


QUERY_COLUMNS = ["wall_s", "build_s", "catalyst_s", "job_busy_s", "driver_gap_s", "build_jobs",
                 "jobs", "stages", "stages_skipped", "tasks", "task_cpu_s", "shuffle_read_mb",
                 "shuffle_write_mb", "spill_mb", "batches", "reconcile_err_s"]


def per_query(records):
    """Mean of every numeric field per query name, over its traced executions."""
    by_q = {}
    for r in records:
        by_q.setdefault(r["query"], []).append(r)
    out = {}
    for q, rs in sorted(by_q.items()):
        keys = [k for k, v in rs[0].items() if isinstance(v, (int, float)) and k not in ("id", "round")]
        out[q] = {k: sum(r[k] for r in rs) / len(rs) for k in keys}
        out[q]["executions"] = len(rs)
    return out


def per_layer(rec, v, out_dir):
    timed = rec["timed"]
    cores = rec["cores"]
    per = attribute(rec)
    records = [exec_record(d) for d in per.values()]
    n = max(1, len(records))
    all_execs = timed["execs"]
    mean = lambda k: sum(r[k] for r in records) / n
    traced_ok = [e for e in all_execs if e["traced"] and e["error"] is None]
    untraced_ok = [e for e in all_execs if not e["traced"] and e["error"] is None]
    qps_t = len(traced_ok) / timed["traced_wall_s"] if timed["traced_wall_s"] else 0.0
    qps_u = len(untraced_ok) / timed["untraced_wall_s"] if timed["untraced_wall_s"] else 0.0
    scored = [r for r in records if r["query"] == "q_score_exact"]
    scored_rows = len(scored) * (v["rows"].get("q_score_exact") or 0)
    leaked = sum(1 for g in timed["guards"] if g["kind"] == "stream_active")
    setup = rec["setup"]
    bad = [r for r in records if not reconciles(r)]
    m = {
        "ops.build_s": (mean("build_s"), "s"),
        "ops.build_jobs": (mean("build_jobs"), "count"),
        "catalyst.actions": (mean("actions"), "count"),
        "catalyst.analysis_s": (mean("analysis_s"), "s"),
        "catalyst.optimization_s": (mean("optimization_s"), "s"),
        "catalyst.planning_s": (mean("planning_s"), "s"),
        "codegen.compile_s": (timed["compile_s"] / max(1, len(all_execs)), "s"),
        "exec.jobs": (mean("jobs"), "count"),
        "exec.stages": (mean("stages"), "count"),
        "exec.stages_skipped": (mean("stages_skipped"), "count"),
        "exec.tasks": (mean("tasks"), "count"),
        "exec.tasks_failed": (mean("tasks_failed"), "count"),
        "exec.job_busy_s": (mean("job_busy_s"), "s"),
        "exec.driver_gap_s": (mean("driver_gap_s"), "s"),
        "exec.task_run_s": (mean("task_run_s"), "s"),
        "exec.task_cpu_s": (mean("task_cpu_s"), "s"),
        "exec.task_gc_s": (mean("task_gc_s"), "s"),
        "exec.slot_util": (sum(r["task_wall_s"] for r in records) /
                           (timed["traced_wall_s"] * cores) if timed["traced_wall_s"] else 0.0, "ratio"),
        "exec.shuffle_read_mb": (mean("shuffle_read_mb"), "MB"),
        "exec.shuffle_write_mb": (mean("shuffle_write_mb"), "MB"),
        "exec.spill_mb": (mean("spill_mb"), "MB"),
        "sources.input_mb": (mean("input_mb"), "MB"),
        "sources.input_rows": (mean("input_rows"), "count"),
        "sources.staged_in_timed": (timed["staged_delta"], "count"),
        "functions.cpu_ns_per_row": (sum(r["cpu_ns_all"] for r in scored) / scored_rows
                                     if scored_rows else 0.0, "ns"),
        "streaming.queries": (timed["trace"]["streams_started"] / n, "count"),
        "streaming.batches": (mean("batches"), "count"),
        "streaming.batch_s": (mean("batch_s"), "s"),
        "streaming.leaked": (leaked, "count"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.staging_s": (setup["staging_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "artifacts.cached_mb": (timed["cached_peak_mb"], "MB"),
        "jvm.gc_s": (timed["gc_s"] / max(1, len(all_execs)), "s"),
        "failed_frac": (v["failed"] / max(1, v["attempted"]), "ratio"),
        "trace.overhead_frac": (qps_u / qps_t - 1.0 if qps_t else 0.0, "ratio"),
        "trace.reconcile_max_err_s": (max((r["reconcile_err_s"] for r in records), default=0.0), "s"),
        "trace.unreconciled": (len(bad), "count"),
    }
    for r in bad:
        v["problems"].append(f"trace: {r['query']} (exec {r['id']}) parts sum off wall by "
                             f"{r['reconcile_err_s']:.3f} s of {r['wall_s']:.3f} s")
    if bad:
        v["correct"] = False
    os.makedirs(out_dir, exist_ok=True)
    queries = per_query(records)
    with open(os.path.join(out_dir, "spans.json"), "w") as f:
        json.dump(spans(per), f)
    with open(os.path.join(out_dir, "queries.json"), "w") as f:
        json.dump({"executions": records, "per_query": queries,
                   "tracing_overhead": {"untraced_queries_per_s": qps_u,
                                        "traced_queries_per_s": qps_t},
                   "reconcile_tolerance": {"abs_s": RECONCILE_ABS_S, "rel": RECONCILE_REL}},
                  f, indent=1)
    print(format_table(queries), file=sys.stderr)
    print(f"[perfbench] tracing overhead: untraced {qps_u:.3f} q/s vs traced {qps_t:.3f} q/s",
          file=sys.stderr)
    return m


def format_table(queries):
    cols = ["executions"] + QUERY_COLUMNS
    widths = [max(len(c), 9) + 2 for c in cols]
    lines = ["query".ljust(24) + "".join(c.rjust(w) for c, w in zip(cols, widths))]
    for q, r in sorted(queries.items(), key=lambda kv: -kv[1]["wall_s"]):
        lines.append(q.ljust(24) + "".join(f"{r[c]:>{w}.3f}" for c, w in zip(cols, widths)))
    return "\n".join(lines)
