#!/usr/bin/env python3
"""Census of the classes Spark's whole-stage and expression codegen compiles
during one run, per day and per SQL execution.

Inputs are two files one run writes:

- the `CodeGenerator` debug log: each compile logs its generated body (one
  `<epoch millis> [<thread>] CodeGenerator: ` line followed by `/* NNN */`
  body lines) and then `Code generated in N ms`. The log4j2 pattern must be
  `%d{UNIX_MILLIS} [%t] %c{1}: %m%n`, so that each compile can be placed in
  time and on its side (the `[%t]` part may be left out);
- the plain (uncompressed, non-rolling) event log, from which the SQL
  executions (start, end, description, plan) are read. Given a directory,
  the newest file in it is read: the first run in a fresh checkout also logs
  an untimed `query_suite` run there.

A body is one class. Bodies are hashed with their `/* NNN */` line prefixes
stripped, so two compiles of the same code are one class. Each compile is
attributed to the innermost SQL execution running at its time; a day starts
at the first execution whose plan reads a new header drop
(`header_<yyyyMMdd>`). Printed per day: compiles, distinct classes,
classes never compiled on an earlier day, their kinds, and the classes of
each SQL execution. Compiles outside any SQL execution (a cache filled by a
plain RDD job) count toward the execution that started last, marked
`[after end]`.

Spark 4.1 keys its codegen cache by (context class loader, code). The driver
and the executors' task threads have different loaders, even in local mode,
so a class compiled on both sides (every whole-stage class: the driver
compiles it once to check it) holds two cache entries. When the log names
threads, `entries` counts those: distinct (side, class) pairs, the number
the cache must hold for the day to compile nothing.

Usage:
  python3 scripts/codegen_census.py --log scd2_daily.log --events /tmp/ev
"""
import argparse
import collections
import hashlib
import json
import os
import re
import sys

LOG_LINE = re.compile(r"^(\d{10,}) (?:\[(.*?)\] )?CodeGenerator: ?(.*)$")
EXECUTOR_THREAD = "Executor task launch worker"
# a day opens at the first SQL execution that reads a new header drop
DAY = re.compile(r"header_(\d{8})")
BODY_LINE = re.compile(r"^/\* *\d+ \*/ ?(.*)$")

# generated class kinds, by the class the body declares
KINDS = [
    ("whole_stage", "GeneratedIteratorForCodegenStage"),
    ("unsafe_projection", "class SpecificUnsafeProjection"),
    ("mutable_projection", "class SpecificMutableProjection"),
    ("safe_projection", "class SpecificSafeProjection"),
    ("columnar_iterator", "class SpecificColumnarIterator"),
    ("predicate", "class SpecificPredicate"),
    ("ordering", "class SpecificOrdering"),
    ("row_joiner", "class SpecificUnsafeRowJoiner"),
]


def kind_of(body):
    for name, marker in KINDS:
        if marker in body:
            return name
    return "other"


def read_compiles(path):
    """[(millis, class hash, kind, side)] in log order, one per compiled body;
    side is "driver", "executor" or None when the log names no thread."""
    out = []
    head, lines = None, None

    def flush():
        if lines:
            body = "\n".join(lines)
            out.append((head[0], hashlib.sha1(body.encode()).hexdigest()[:12], kind_of(body), head[1]))

    with open(path, errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = LOG_LINE.match(line)
            if m:
                flush()
                thread = m.group(2)
                side = None if thread is None else (
                    "executor" if thread.startswith(EXECUTOR_THREAD) else "driver")
                head, lines = (int(m.group(1)), side), ([] if m.group(3).strip() == "" else None)
                continue
            b = BODY_LINE.match(line)
            if b and lines is not None:
                lines.append(b.group(1).rstrip())
            else:
                flush()
                lines = None
    flush()
    return out


def newest(path):
    if os.path.isdir(path):
        files = [os.path.join(path, n) for n in os.listdir(path)]
        files = [p for p in files if os.path.isfile(p)]
        if not files:
            sys.exit(f"no event log in {path}")
        return max(files, key=os.path.getmtime)
    return path


def read_executions(path):
    """[(start, end, id, description, day key or None)] by start time."""
    starts, ends = {}, {}
    with open(path) as f:
        for line in f:
            if "SQLExecution" not in line[:120]:
                continue
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev.endswith("SparkListenerSQLExecutionStart"):
                desc = e.get("description") or ""
                m = DAY.search(desc + "\n" + (e.get("physicalPlanDescription") or ""))
                starts[e["executionId"]] = (e["time"], desc, m.group(1) if m else None)
            elif ev.endswith("SparkListenerSQLExecutionEnd"):
                ends[e["executionId"]] = e["time"]
    execs = []
    for i, (t0, desc, day) in starts.items():
        execs.append((t0, ends.get(i, float("inf")), i, desc, day))
    return sorted(execs)


def census(compiles, execs):
    """Days in order: {day, compiles, distinct, new, kinds, executions}."""
    # day of each execution: a new day key opens a day; others inherit
    day_of, order, cur = {}, [], None
    for t0, _, i, _, key in execs:
        if key is not None and key != cur and key not in order:
            cur = key
            order.append(key)
        day_of[i] = cur
    days = collections.OrderedDict((k, []) for k in [None] + order)
    for ts, h, kind, side in compiles:
        # the innermost execution running at ts: latest start not after it
        hit = None
        for t0, t1, i, desc, _ in execs:
            if t0 > ts:
                break
            if ts <= t1:
                hit = (i, desc)
        if hit is None:
            # outside any execution: the last execution started before it
            prior = [(i, d + " [after end]") for t0, _, i, d, _ in execs if t0 <= ts]
            hit = prior[-1] if prior else (None, "(before any SQL execution)")
        days[day_of.get(hit[0])].append((hit, h, kind, side))
    seen = set()
    result = []
    for key, items in days.items():
        if not items:
            continue
        hashes = [h for _, h, _, _ in items]
        distinct = list(dict.fromkeys(hashes))
        new = [h for h in distinct if h not in seen]
        kinds = collections.Counter(k for _, k in {(h, k) for _, h, k, _ in items})
        sided = all(s is not None for _, _, _, s in items)
        per_exec = collections.OrderedDict()
        for (i, desc), h, _, _ in items:
            per_exec.setdefault((i, desc), []).append(h)
        result.append({
            "day": key or "(before the first day)",
            "compiles": len(hashes),
            "distinct": len(distinct),
            "new": len(new),
            "entries": len({(s, h) for _, h, _, s in items}) if sided else None,
            "kinds": dict(sorted(kinds.items())),
            "executions": [
                {"id": i, "description": desc, "compiles": len(hs),
                 "distinct": len(set(hs)), "new": len([h for h in set(hs) if h in new])}
                for (i, desc), hs in per_exec.items()],
        })
        seen.update(distinct)
    return result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--log", required=True, help="CodeGenerator debug log")
    ap.add_argument("--events", required=True, help="event log file, or its directory")
    a = ap.parse_args(argv)
    for d in census(read_compiles(a.log), read_executions(newest(a.events))):
        entries = "" if d["entries"] is None else f", entries {d['entries']}"
        print(f"day {d['day']}: compiles {d['compiles']}, distinct {d['distinct']}, "
              f"new {d['new']}{entries}; kinds " +
              ", ".join(f"{k} {n}" for k, n in d["kinds"].items()))
        for e in d["executions"]:
            print(f"  exec {e['id']}: compiles {e['compiles']}, distinct {e['distinct']}, "
                  f"new {e['new']}  {e['description'][:70]}")


if __name__ == "__main__":
    main()
