#!/usr/bin/env python3
"""Self-test of tools/reach.py on a tiny Scala tree in a temporary
directory.

Usage: python3 tools/test_reach.py
"""
import contextlib
import io
import os
import sys
import tempfile
import textwrap
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import reach  # noqa: E402

TREE = {
    "main/app/Root.scala": """
        package app

        import app.Imported._

        object Root {
          def main(args: Array[String]): Unit = {
            Lib.used(1)
            viaImport(3)
            // Lib.commentOnly(2) does not count
            val e = new Expr(1)
            println(e.eval(null))
          }
        }
        """,
    "main/app/Lib.scala": """
        package app

        object Lib {
          /** Called from the root. */
          def used(x: Int): Int = helper(x) + Twice.twice(x)

          private def helper(x: Int): Int = x + 1

          private def shared(x: Int): Int = x

          def dead(x: Int): Int = x * 2

          def recursive(n: Int): Int =
            if (n <= 0) 0
            else recursive(n - 1)

          def deadCaller(x: Int): Int = onlyFromDead(x)

          def onlyFromDead(x: Int): Int = {
            x - 1
          }

          def commentOnly(x: Int): Int = x

          def sqlText(): String = s\"\"\"
        SELECT 1
        \"\"\" + fromString(0)

          def fromString(x: Int): Int = x
        }
        """,
    "main/app/Twice.scala": """
        package app

        object Twice {
          def twice(x: Int): Int = Helper.shared(x) * 2
        }

        object Helper {
          def shared(x: Int): Int = x
        }
        """,
    "main/app/Base.scala": """
        package app

        abstract class Base {
          def eval(input: Any): Any
          def label: String
        }
        """,
    "main/app/Expr.scala": """
        package app

        case class Expr(v: Int) extends Base {
          def eval(input: Any): Any = v
          override def label: String = "expr"
        }
        """,
    "main/app/Imported.scala": """
        package app

        object Imported {
          def viaImport(x: Int): Int = x
        }
        """,
    "main/app/Orphan.scala": """
        package app

        object Orphan {
          def unreachable(): Int = 1
        }
        """,
    "bench/Probe.scala": """
        package bench

        object Probe { def run(): Int = app.Lib.used(2) }
        """,
}


class ReachTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        for rel, src in TREE.items():
            path = os.path.join(cls.tmp.name, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                f.write(textwrap.dedent(src))
        cls.main_dir = os.path.join(cls.tmp.name, "main")
        cls.bench_dir = os.path.join(cls.tmp.name, "bench")
        unreached, dead = reach.reach(cls.main_dir, ["app/Root.scala"],
                                      cls.bench_dir)
        cls.unreached = [os.path.basename(p) for p in unreached]
        cls.dead = {name for _, _, _, name in dead}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_dead_file(self):
        self.assertEqual(self.unreached, ["Orphan.scala"])

    def test_dead_method(self):
        self.assertIn("Lib.dead", self.dead)

    def test_self_reference_is_not_a_reference(self):
        self.assertIn("Lib.recursive", self.dead)

    def test_fixpoint_kills_what_only_dead_code_calls(self):
        self.assertIn("Lib.deadCaller", self.dead)
        self.assertIn("Lib.onlyFromDead", self.dead)

    def test_comment_is_not_a_reference(self):
        self.assertIn("Lib.commentOnly", self.dead)

    def test_private_counts_only_its_own_file(self):
        # `Helper.shared` elsewhere does not keep the private `Lib.shared`
        self.assertIn("Lib.shared", self.dead)
        self.assertNotIn("Helper.shared", self.dead)

    def test_live_methods(self):
        # from a root, from a live body in the same file, from another
        # file as `Owner.name`, and bare after an import of its owner
        for name in ("Lib.used", "Lib.helper", "Twice.twice",
                     "Imported.viaImport"):
            self.assertNotIn(name, self.dead)

    def test_body_extent_spans_a_multiline_string(self):
        # the string's unindented lines do not end `sqlText`, so its
        # reference to `fromString` is dead with it
        self.assertIn("Lib.sqlText", self.dead)
        self.assertIn("Lib.fromString", self.dead)

    def test_override_and_api_names_are_exempt(self):
        # nothing calls `label`: the override is exempt and keeps the
        # abstract declaration it overrides
        self.assertNotIn("Expr.label", self.dead)
        self.assertNotIn("Base.label", self.dead)
        self.assertNotIn("Expr.eval", self.dead)
        self.assertNotIn("Root.main", self.dead)

    def test_exactly_these(self):
        self.assertEqual(self.dead, {
            "Lib.dead", "Lib.shared", "Lib.recursive", "Lib.deadCaller",
            "Lib.onlyFromDead", "Lib.commentOnly", "Lib.sqlText",
            "Lib.fromString"})

    def run_main(self, keep, roots=("app/Root.scala",)):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = reach.main(self.main_dir, list(roots), self.bench_dir, keep)
        return code, out.getvalue()

    def test_keep_needs_a_reason_and_exit_code(self):
        code, out = self.run_main({})
        self.assertEqual(code, 1)
        self.assertIn("Orphan.scala", out)
        self.assertIn("Lib.dead", out)
        everything = {name: "kept for the test" for name in self.dead}
        code, out = self.run_main(everything)
        self.assertEqual(code, 1)  # Orphan.scala is still unreached
        self.assertIn("Lib.dead  kept: kept for the test", out)
        self.assertIn("0 dead methods", out)
        code, out = self.run_main(
            everything, roots=("app/Root.scala", "app/Orphan.scala"))
        self.assertEqual(code, 0, out)
        code, _ = self.run_main(
            {"Lib.dead": "kept for the test"},
            roots=("app/Root.scala", "app/Orphan.scala"))
        self.assertEqual(code, 1)  # the other dead methods have no reason


if __name__ == "__main__":
    unittest.main()
