#!/usr/bin/env python3
"""Per-span Spark job, file-operation and fork tables from a perfbench artifact.

Usage:
    python3 tools/cycle_jobs.py ARTIFACT.json [EVENTLOG] [--jfr FILE] [--span NAME ...] [--all-ops]
    python3 tools/cycle_jobs.py --compare PARENT.json CHANGE.json [--span NAME ...]

ARTIFACT.json is a traced perfbench artifact (`run.py --trace 1`, kept
under .bench_build/perfbench/results/). EVENTLOG is the event log of the
same run: a file (plain or zstd-compressed, e.g. events_1_<app>.zstd) or
the directory Spark wrote it to. Record one with

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.dir=file:///some/dir" python3 perfbench/run.py ...

For every span of the fixed measured ops (op >= 0; --all-ops adds the
warm-up and seeding spans) it prints one line per SQL execution that ran
jobs inside the span: its jobs, its wall time (first job submitted to
last job completed, ms) and the engine call site (the first `graft.`
frame of the execution's call stack). Jobs outside any SQL execution
are listed under `-`. A job belongs to a span when its `perfbench.span`
property names the span's id, or, lacking the property, when it was
submitted inside the span's [start_ms, end_ms] window.

Every span header also carries the artifact's own facets for the span,
`fs_ops=` (Hadoop FileSystem/FileContext calls the traced run counted)
and `written_mb=`, and the tool ends with an "fs_ops per span" table
beside "jobs per span", so the artifact alone (no EVENTLOG, no --jfr)
already gives the per-occurrence fs_ops of every span.

With --jfr FILE (a JFR recording of the same run, e.g. from
`JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr"`), each
span header also counts the `jdk.ProcessStart` events submitted inside
the span's window (`forks=`, by program, e.g. `chmod:16`), and a last
table gives forks per span. EVENTLOG may then be left out.

With --compare PARENT.json CHANGE.json (two traced artifacts, e.g. of
the parent commit and of a change, same workload and seed) it prints,
for each span name and both artifacts, every occurrence of the span in
run order, warm-up and seeding spans included, from the artifacts' own
facets (no event log needed): "fs_ops/jobs", then the timed layers
`wall_ms` (the span's wall) and `driver_ms` (its wall outside any
Spark job), so a speed claim names the layer that moved.

Only the standard library is used; `.zstd` logs are read through
`zstd -dc`, JFR recordings through `jfr print --json`.
"""
import argparse
import collections
import datetime
import json
import os
import re
import subprocess
import sys

FRAME = re.compile(r"(graft\.[\w.$]+)\((\w+\.scala:\d+)\)")


def event_lines(path):
    if os.path.isdir(path):
        logs = []
        for root, _, files in os.walk(path):
            logs += [os.path.join(root, f) for f in files if f.startswith("events_")
                     or f.startswith("local-") or f.startswith("app-")]
        if not logs:
            sys.exit(f"no event log under {path}")
        for p in sorted(logs):
            yield from event_lines(p)
        return
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True).stdout
        yield from out.decode("utf-8").splitlines()
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def call_site(stack):
    """The first engine frame of a call stack, as `Object.method (File.scala:N)`."""
    for m in FRAME.finditer(stack or ""):
        name = m.group(1).replace("$anonfun$", "").replace("$", ".")
        name = re.sub(r"\.+", ".", name).rstrip(".")
        name = re.sub(r"\.\d+$", "", name)
        return f"{name.split('.', 1)[1] if name.startswith('graft.') else name} ({m.group(2)})"
    return (stack or "?").splitlines()[0][:80] if stack else "?"


def read_log(path):
    executions = {}  # id -> call site
    jobs = {}        # id -> dict
    for line in event_lines(path):
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            executions[e["executionId"]] = call_site(e.get("details", ""))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stage_site = next((s.get("Details", "") for s in e.get("Stage Infos", [])), "")
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"],
                "end": e["Submission Time"],
                "exec": props.get("spark.sql.execution.id"),
                "span": props.get("perfbench.span"),
                "site": call_site(stage_site),
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
    return executions, jobs


def epoch_ms(stamp):
    """Epoch milliseconds of a JFR timestamp such as
    2026-10-18T20:25:01.123456789Z or 2026-10-18T20:25:01.123+01:00."""
    m = re.match(r"(.+T\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:?\d\d)?$", stamp)
    if not m:
        sys.exit(f"unrecognised JFR timestamp {stamp!r}")
    zone = m.group(3) or "Z"
    t = datetime.datetime.fromisoformat(m.group(1) + ("+00:00" if zone == "Z" else zone))
    return int(t.timestamp()) * 1000 + int((m.group(2) or "0")[:3].ljust(3, "0"))


def process_starts(path):
    """(epoch ms, program name) of every jdk.ProcessStart event in a JFR recording."""
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "1",
                          "--events", "jdk.ProcessStart", path],
                         check=True, capture_output=True).stdout
    starts = []
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        program = os.path.basename((v.get("command") or "?").split()[0])
        starts.append((epoch_ms(v["startTime"]), program))
    return starts


def occurrences(art, names):
    """span name -> the facets of each of its spans, in run order."""
    out = collections.OrderedDict()
    for s in sorted(art["spans"], key=lambda s: (s["start_ms"], s["id"])):
        if names and s["name"] not in names:
            continue
        out.setdefault(s["name"], []).append(s.get("facets", {}))
    return out


COMPARED = (
    ("fs_ops/jobs", lambda f: f"{int(f.get('fs_ops', 0))}/{int(f.get('jobs', 0))}"),
    ("wall_ms", lambda f: f"{f.get('wall_ms', 0.0):.0f}"),
    ("driver_ms", lambda f: f"{f.get('driver_ms', 0.0):.0f}"),
)


def compare(paths, names):
    arts = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            arts.append(json.load(f))
    print("# per occurrence, every occurrence of each span in run order:"
          " fs_ops/jobs, wall_ms, driver_ms")
    for label, p, art in zip(("parent", "change"), paths, arts):
        print(f"# {label}: {p} ({art.get('workload')} seed {art.get('seed')})")
    tables = [occurrences(a, names) for a in arts]
    for name in dict.fromkeys(n for t in tables for n in t):
        print(name)
        for facet, show in COMPARED:
            for label, t in zip(("parent", "change"), tables):
                cells = " ".join(show(f) for f in t.get(name, [])) or "-"
                print(f"  {facet:<11} {label}: {cells}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("artifact", nargs="?")
    ap.add_argument("eventlog", nargs="?")
    ap.add_argument("--span", action="append", help="only spans with this name (repeatable)")
    ap.add_argument("--all-ops", action="store_true", help="include warm-up and seed spans")
    ap.add_argument("--jfr", metavar="FILE", help="count jdk.ProcessStart events per span")
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"),
                    help="fs_ops/jobs, wall_ms and driver_ms per occurrence of each span, "
                         "for both artifacts")
    a = ap.parse_args()
    if a.compare:
        if a.artifact or a.jfr:
            ap.error("--compare takes its two artifacts only")
        return compare(a.compare, a.span)
    if not a.artifact:
        ap.error("an artifact is required")

    with open(a.artifact, encoding="utf-8") as f:
        art = json.load(f)
    executions, jobs = read_log(a.eventlog) if a.eventlog else ({}, {})
    forks = process_starts(a.jfr) if a.jfr else []
    spans = [s for s in art["spans"]
             if (a.all_ops or s.get("op", -1) >= 0) and (not a.span or s["name"] in a.span)]
    by_id = {str(s["id"]): s for s in art["spans"]}

    owned = collections.defaultdict(list)
    for jid, j in sorted(jobs.items()):
        if j["span"] is not None and j["span"] in by_id:
            owned[j["span"]].append(j)
        elif j["span"] is None:
            for s in spans:
                if s["start_ms"] <= j["submit"] <= s["end_ms"]:
                    owned[str(s["id"])].append(j)
                    break

    totals = collections.defaultdict(list)
    fork_totals = collections.defaultdict(list)
    fs_totals = collections.defaultdict(list)
    for s in spans:
        mine = owned.get(str(s["id"]), [])
        totals[s["name"]].append(len(mine))
        facets = s.get("facets", {})
        fs_totals[s["name"]].append(int(facets.get("fs_ops", 0)))
        header = (f"== {s['name']} op={s.get('op')} span={s['id']} "
                  f"wall_ms={s['end_ms'] - s['start_ms']} "
                  f"fs_ops={int(facets.get('fs_ops', 0))} "
                  f"written_mb={facets.get('written_mb', 0.0):.3f}")
        if a.eventlog:
            header += f" jobs={len(mine)}"
        if a.jfr:
            programs = collections.Counter(
                p for t, p in forks if s["start_ms"] <= t <= s["end_ms"])
            fork_totals[s["name"]].append(sum(programs.values()))
            header += f" forks={sum(programs.values())}" + "".join(
                f" {p}:{n}" for p, n in programs.most_common())
        print(header)
        if not a.eventlog:
            continue
        groups = collections.OrderedDict()
        for j in sorted(mine, key=lambda j: j["submit"]):
            groups.setdefault(j["exec"], []).append(j)
        print(f"   {'exec':>6} {'jobs':>4} {'wall_ms':>8}  call site")
        for ex, js in groups.items():
            wall = max(j["end"] for j in js) - min(j["submit"] for j in js)
            site = executions.get(int(ex)) if ex is not None else js[0]["site"]
            print(f"   {ex if ex is not None else '-':>6} {len(js):>4} {wall:>8}  {site}")
    if a.eventlog:
        print("== jobs per span" + ("" if a.all_ops else " (fixed ops)"))
        for name, ns in totals.items():
            print(f"   {name}: {' '.join(map(str, ns))}  (total {sum(ns)})")
    print("== fs_ops per span" + ("" if a.all_ops else " (fixed ops)"))
    for name, ns in fs_totals.items():
        print(f"   {name}: {' '.join(map(str, ns))}  (total {sum(ns)})")
    if a.jfr:
        print("== forks per span" + ("" if a.all_ops else " (fixed ops)") +
              f"; {len(forks)} in the whole recording")
        for name, ns in fork_totals.items():
            print(f"   {name}: {' '.join(map(str, ns))}  (total {sum(ns)})")


if __name__ == "__main__":
    main()
