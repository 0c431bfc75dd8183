"""Tests of codegen_census.py on a tiny synthetic run:
python3 -m unittest discover -s scripts -p 'test_*.py'"""
import json
import os
import tempfile
import unittest

import codegen_census as cc


def body(name, lines):
    """A logged body: the compile's head line, then numbered code lines."""
    return [""] + [f"/* {i + 1:03d} */ {l}" for i, l in enumerate(
        [f"final class {name} {{"] + lines + ["}"])]


def compile_lines(ts, thread, name, lines):
    head, *rest = body(name, lines)
    ts += BASE
    return [f"{ts} [{thread}] CodeGenerator: {head}"] + rest + [
        f"{ts + 1} [{thread}] CodeGenerator: Code generated in 3.5 ms"]


BASE = 1_700_000_000_000  # epoch millis, as log4j2 writes them
STAGE = "GeneratedIteratorForCodegenStage1"
PROJ = "SpecificUnsafeProjection"
DRIVER, TASK = "ResultQueryStageExecution-1", "Executor task launch worker for task 0.0"


def event(kind, eid, t, desc="", plan=""):
    e = {"Event": f"org.apache.spark.sql.execution.ui.SparkListenerSQLExecution{kind}",
         "executionId": eid, "time": BASE + t}
    if kind == "Start":
        e.update(description=desc, physicalPlanDescription=plan)
    return json.dumps(e)


class CensusTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        log = []
        # day 1: one stage (driver + task) and one projection, in exec 0
        log += compile_lines(1010, DRIVER, STAGE, ["a();"])
        log += compile_lines(1020, TASK, STAGE, ["a();"])
        log += compile_lines(1030, TASK, PROJ, ["p(0);"])
        # a body renumbered differently is still the same class
        log += ["%d [%s] CodeGenerator: " % (BASE + 1040, TASK), "/*   1 */ final class %s {" % PROJ,
                "/*   2 */ p(0);", "/*   3 */ }"]
        # day 2: the same stage again, and a new projection compiled
        # after exec 2 ended (a cache filled by a plain RDD job)
        log += compile_lines(2010, TASK, STAGE, ["a();"])
        log += compile_lines(2200, TASK, PROJ, ["p(1);"])
        with open(os.path.join(self.dir, "codegen.log"), "w") as f:
            f.write("\n".join(["Picked up JAVA_TOOL_OPTIONS: -Dx=1"] + log) + "\n")
        ev = os.path.join(self.dir, "ev")
        os.mkdir(ev)
        # an earlier run's log in the same directory is not read
        older = os.path.join(ev, "older")
        with open(older, "w") as f:
            f.write(event("Start", 0, 10, "warm-up", "Scan csv header_20230101.csv") + "\n")
        os.utime(older, (1, 1))
        with open(os.path.join(ev, "newer"), "w") as f:
            f.write("\n".join([
                event("Start", 0, 1000, "parquet at Validation.scala:1",
                      "Scan csv [...] /drops/header_20240101.csv/part-0.csv"),
                event("End", 0, 1100),
                event("Start", 1, 1500, "graft.merge: rewrite + write", "Scan parquet"),
                event("End", 1, 1600),
                event("Start", 2, 2000, "parquet at Validation.scala:1",
                      "Scan csv [...] /drops/header_20240102.csv/part-0.csv"),
                event("End", 2, 2100)]) + "\n")
        self.days = cc.census(cc.read_compiles(os.path.join(self.dir, "codegen.log")),
                              cc.read_executions(cc.newest(ev)))

    def test_days_classes_and_entries(self):
        d1, d2 = self.days
        self.assertEqual(d1["day"], "20240101")
        self.assertEqual((d1["compiles"], d1["distinct"], d1["new"], d1["entries"]), (4, 2, 2, 3))
        self.assertEqual(d1["kinds"], {"unsafe_projection": 1, "whole_stage": 1})
        self.assertEqual((d2["compiles"], d2["distinct"], d2["new"], d2["entries"]), (2, 2, 1, 2))

    def test_executions(self):
        d1, d2 = self.days
        self.assertEqual([(e["id"], e["compiles"], e["distinct"]) for e in d1["executions"]],
                         [(0, 4, 2)])
        self.assertEqual([(e["description"], e["new"]) for e in d2["executions"]], [
            ("parquet at Validation.scala:1", 0),
            ("parquet at Validation.scala:1 [after end]", 1)])

    def test_log_without_threads(self):
        path = os.path.join(self.dir, "plain.log")
        with open(path, "w") as f:
            f.write("\n".join([f"{BASE + 10} CodeGenerator: ", "/* 001 */ final class %s {" % PROJ,
                               "/* 002 */ }"]) + "\n")
        (c,) = cc.read_compiles(path)
        self.assertEqual((c[0], c[2], c[3]), (BASE + 10, "unsafe_projection", None))


if __name__ == "__main__":
    unittest.main()
