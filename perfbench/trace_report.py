#!/usr/bin/env python3
"""Turn a traced run's `trace.json` into per-layer metrics and a per-query
ledger.

    python3 perfbench/trace_report.py <run dir>   # prints metrics and ledger

Spans come from the harness (set-up, session build, table load, query,
build, action); Spark jobs, stages and the planning phases of every query
execution come from listeners. Each Spark event is charged to the
innermost harness span that was open at its start time. Per-layer metrics
are totals per traced timed pass; the ledger holds each query's median over
its traced executions.
"""
import bisect
import json
import os
import statistics
import sys

SLACK_S = 0.002          # Spark stamps events in whole milliseconds
LEDGER_TOLERANCE = 0.02  # the parts must add up to wall within 2% (or 5 ms)
LEDGER_FLOOR_S = 0.005


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Trace:
    def __init__(self, doc):
        self.spans = {s["id"]: dict(s, start=s["start_ns"] / 1e9,
                                    end=s["end_ns"] / 1e9)
                      for s in doc["spans"]}
        leaves = set(self.spans) - {s["parent"] for s in self.spans.values()}
        self.leaves = sorted((self.spans[i] for i in leaves),
                             key=lambda s: s["start"])
        self.starts = [s["start"] for s in self.leaves]
        self.jobs = doc["jobs"]
        self.stages = {(s["id"], s["attempt"]): s for s in doc["stages"]}
        self.phases = doc["phases"]

    def leaf_at(self, t):
        """Innermost span open at time t (seconds), or None."""
        i = bisect.bisect_right(self.starts, t + SLACK_S) - 1
        if i >= 0 and t <= self.leaves[i]["end"] + SLACK_S:
            return self.leaves[i]
        return None


def _counters():
    return {"jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "analysis_s": 0.0,
            "optimize_s": 0.0, "plan_s": 0.0, "stage_spans": [],
            "catalyst_spans": []}


def _charge(tr):
    """Charge jobs, stages and planning phases to leaf spans; returns a
    dict leaf id -> counters."""
    acc = {}

    def slot(span):
        return acc.setdefault(span["id"], _counters())
    stage_owner = {}
    for j in tr.jobs:
        span = tr.leaf_at(int(j["start_ms"]) / 1e3)
        if span is None:
            continue
        slot(span)["jobs"] += 1
        for sid in j["stages"]:
            stage_owner[int(sid)] = span
    for (sid, _), st in tr.stages.items():
        span = stage_owner.get(sid)
        if span is None:
            continue
        c = slot(span)
        c["stages"] += 1
        c["tasks"] += st["tasks"]
        c["cpu_s"] += st.get("cpu_ns", 0) / 1e9
        c["gc_s"] += st.get("gc_ms", 0) / 1e3
        c["shuffle_bytes"] += st.get("shuffle_write_bytes", 0)
        c["spill_bytes"] += st.get("spill_bytes", 0)
        if st["submit_ms"] >= 0 and st["complete_ms"] >= 0:
            c["stage_spans"].append((st["submit_ms"] / 1e3, st["complete_ms"] / 1e3))
    for p in tr.phases:
        first = min(v[0] for k, v in p.items() if isinstance(v, list))
        span = tr.leaf_at(first / 1e3)
        if span is None:
            continue
        c = slot(span)
        for key, name in (("analysis", "analysis_s"),
                          ("optimization", "optimize_s"),
                          ("planning", "plan_s")):
            if key in p:
                s, e = p[key]
                c[name] += (e - s) / 1e3
                if key != "analysis":
                    c["catalyst_spans"].append((s / 1e3, e / 1e3))
    return acc


def report(trace_path, result):
    """Per-layer metric values and the per-query ledger of one traced run."""
    with open(trace_path) as f:
        tr = Trace(json.load(f))
    acc = _charge(tr)
    empty = _counters()
    rows = []  # one per traced timed execution
    for q in tr.spans.values():
        if q["name"] != "query":
            continue
        pass_span = tr.spans.get(q["parent"])
        if pass_span is None or pass_span["name"] != "pass_traced":
            continue
        kids = [s for s in tr.spans.values() if s["parent"] == q["id"]]
        part = {k["name"]: k for k in kids}
        b, a = part.get("build"), part.get("action")
        cb = acc.get(b["id"], empty) if b else empty
        ca = acc.get(a["id"], empty) if a else empty
        wall = q["end"] - q["start"]
        build = b["end"] - b["start"] if b else 0.0
        action = a["end"] - a["start"] if a else 0.0
        # The action splits into Catalyst phases (tracker clock), stage
        # execution (listener clock) and the gaps where neither runs. The
        # gap is what the two leave uncovered inside the action span; the
        # other parts are taken as Spark reports them, unclipped, so
        # phases that overlap stages or events charged to the wrong span
        # make the parts add up to more than the wall time.
        covered = 0.0
        if a:
            covered = _union([(max(s, a["start"]), min(e, a["end"]))
                              for s, e in ca["stage_spans"] + ca["catalyst_spans"]
                              if e > a["start"] and s < a["end"]])
        catalyst = ca["optimize_s"] + ca["plan_s"]
        stage_busy = _union(ca["stage_spans"])
        gap = max(0.0, action - covered)
        rows.append({
            "q": q["qid"], "pass": pass_span["qid"], "wall_s": wall,
            "build_s": build, "action_s": action,
            "catalyst_s": catalyst, "analysis_s": ca["analysis_s"],
            "optimize_s": ca["optimize_s"], "plan_s": ca["plan_s"],
            "exec_s": action - catalyst,
            "stage_busy_s": stage_busy,
            "stage_gap_s": gap,
            "self_s": wall - build - action,
            "residual_s": wall - (build + catalyst + stage_busy + gap),
            "build_jobs": cb["jobs"],
            "jobs": cb["jobs"] + ca["jobs"],
            "stages": cb["stages"] + ca["stages"],
            "tasks": cb["tasks"] + ca["tasks"],
            "cpu_s": cb["cpu_s"] + ca["cpu_s"],
            "gc_s": cb["gc_s"] + ca["gc_s"],
            "shuffle_bytes": cb["shuffle_bytes"] + ca["shuffle_bytes"],
            "spill_bytes": cb["spill_bytes"] + ca["spill_bytes"],
            "scan_bytes": int(q.get("fs_read_bytes", 0)),
            "frame_hits": int(q.get("frame_hits", 0)),
            "frame_misses": int(q.get("frame_misses", 0)),
        })
    if not rows:
        raise ValueError("trace holds no traced timed pass")
    n = len({r["pass"] for r in rows})

    def per_pass(key, scale=1.0):
        return sum(r[key] for r in rows) / n / scale

    hits, misses = per_pass("frame_hits"), per_pass("frame_misses")
    walls = {True: [], False: []}
    for p in result["passes"]:
        walls[p["traced"]].append(p["wall_s"])
    values = {
        "RipSession.build_s": result["session_s"],
        "Tables.load_s": result["load_s"],
        "Tables.scan_mb": per_pass("scan_bytes", 1e6),
        "registry.build_s": per_pass("build_s"),
        "registry.build_jobs": per_pass("build_jobs"),
        "catalyst.optimize_s": per_pass("optimize_s"),
        "catalyst.plan_s": per_pass("plan_s"),
        "scheduler.jobs": per_pass("jobs"),
        "scheduler.stages": per_pass("stages"),
        "scheduler.tasks": per_pass("tasks"),
        "scheduler.stage_gap_s": per_pass("stage_gap_s"),
        "executor.cpu_s": per_pass("cpu_s"),
        "executor.gc_s": per_pass("gc_s"),
        "executor.shuffle_mb": per_pass("shuffle_bytes", 1e6),
        "executor.spill_mb": per_pass("spill_bytes", 1e6),
        "frames.hits": hits,
        "frames.misses": misses,
        "frames.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "trace.overhead_s": (statistics.median(walls[True])
                             - statistics.median(walls[False])),
    }
    ledger = {}
    for q in sorted({r["q"] for r in rows}):
        mine = [r for r in rows if r["q"] == q]
        entry = {k: statistics.median(r[k] for r in mine)
                 for k in mine[0] if k not in ("q", "pass")}
        entry["executions"] = len(mine)
        worst = max(mine, key=lambda r: abs(r["residual_s"]) - max(
            LEDGER_FLOOR_S, LEDGER_TOLERANCE * r["wall_s"]))
        entry["worst_residual_s"] = worst["residual_s"]
        entry["accounted"] = abs(worst["residual_s"]) <= max(
            LEDGER_FLOOR_S, LEDGER_TOLERANCE * worst["wall_s"])
        ledger[q] = entry
    values["trace.unaccounted_queries"] = sum(
        1 for e in ledger.values() if not e["accounted"])
    return values, ledger


def write_ledger(path, ledger):
    with open(path, "w") as f:
        json.dump({"tolerance": {"share": LEDGER_TOLERANCE,
                                 "floor_s": LEDGER_FLOOR_S},
                   "queries": ledger}, f, indent=1, sort_keys=True)


def main(run_dir):
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    values, ledger = report(os.path.join(run_dir, "trace.json"), result)
    for k, v in values.items():
        print(f"{k:24s} {v:12.4f}")
    cols = ["wall_s", "build_s", "catalyst_s", "stage_busy_s", "stage_gap_s",
            "residual_s", "jobs", "stages", "tasks", "cpu_s", "frame_hits",
            "frame_misses"]
    print("query".ljust(28) + "".join(c.rjust(12) for c in cols) + "  ok")
    for q, e in ledger.items():
        print(q.ljust(28) + "".join(f"{e[c]:12.4f}" for c in cols)
              + ("  yes" if e["accounted"] else "  NO"))
    return 0 if all(e["accounted"] for e in ledger.values()) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
