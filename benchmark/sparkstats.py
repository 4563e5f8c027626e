"""Spark-side counts read from outside the engine: physical plan node
counts from ``explain("formatted")`` and per-job-tag task totals from
the event log."""

from __future__ import annotations

import json
import re

_NODE = re.compile(r"^(?P<lead>[\s:|+\-]*)(?:\* )?(?P<name>[A-Za-z]\w*)[^(]*\((?P<id>\d+|unknown)\)")


def _tree_lines(formatted: str) -> list[str]:
    """The plan tree of the final physical plan: the AQE final plan when
    the plan is adaptive, else the whole tree."""
    lines = formatted.splitlines()
    start = next(
        (i + 1 for i, ln in enumerate(lines) if ln.startswith("== Physical Plan ==")),
        0,
    )
    tree = []
    for ln in lines[start:]:
        if not ln.strip():
            break
        tree.append(ln)
    final = next(
        (i for i, ln in enumerate(tree) if ln.startswith("+- == Final Plan ==")), None
    )
    if final is None:
        return tree
    end = next(
        (
            i
            for i, ln in enumerate(tree)
            if i > final and ln.startswith("+- == Initial Plan ==")
        ),
        len(tree),
    )
    return tree[final + 1 : end]


def plan_nodes(formatted: str) -> list[str]:
    """Names of the physical nodes of the final plan, leaving out cached
    subtrees (an ``InMemoryRelation`` and everything under it) and
    logical leftovers (nodes without an id, and what is under them)."""
    names = []
    skip_deeper_than = None
    for ln in _tree_lines(formatted):
        m = _NODE.match(ln)
        if m is None:
            continue
        col = m.start("name")
        if skip_deeper_than is not None:
            if col > skip_deeper_than:
                continue
            skip_deeper_than = None
        if m.group("name") == "InMemoryRelation" or m.group("id") == "unknown":
            skip_deeper_than = col
            continue
        names.append(m.group("name"))
    return names


def plan_counts(formatted: str) -> dict[str, int]:
    names = plan_nodes(formatted)
    return {
        "nodes": len(names),
        "joins": sum("Join" in n for n in names),
        "exchanges": sum(n.endswith("Exchange") and n != "ReusedExchange" for n in names),
        "python_stages": sum(
            "Python" in n or "InPandas" in n or "InArrow" in n for n in names
        ),
    }


_ZERO = {
    "jobs": 0,
    "stages": 0,
    "tasks": 0,
    "executor_run_s": 0.0,
    "executor_cpu_s": 0.0,
    "jvm_gc_s": 0.0,
    "shuffle_write_bytes": 0,
    "result_bytes": 0,
}


def eventlog_totals(lines, tags) -> dict[str, dict]:
    """Totals per job tag over an event log (one JSON event per line).

    A stage counts for the tags of the first job that lists it; only
    stages that ran (completed) are counted, so stages a later job skips
    because their shuffle output exists are not counted twice."""
    wanted = set(tags)
    stage_tags: dict[int, set] = {}
    out = {t: dict(_ZERO) for t in wanted}
    for ln in lines:
        ev = json.loads(ln)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jt = set((ev.get("Properties") or {}).get("spark.job.tags", "").split(","))
            jt &= wanted
            for t in jt:
                out[t]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_tags.setdefault(sid, jt)
        elif kind == "SparkListenerStageCompleted":
            for t in stage_tags.get(ev["Stage Info"]["Stage ID"], ()):
                out[t]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            for t in stage_tags.get(ev["Stage ID"], ()):
                o = out[t]
                o["tasks"] += 1
                o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                o["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                o["result_bytes"] += m.get("Result Size", 0)
                o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return out
