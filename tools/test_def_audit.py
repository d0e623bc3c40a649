"""Checks of tools/def_audit.py on tiny Scala trees.

    python3 -m unittest tools/test_def_audit.py
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import def_audit  # noqa: E402


class DefAuditTest(unittest.TestCase):

    def tree(self, files):
        """Writes {relative path: text} under a fresh root; returns it."""
        root = tempfile.mkdtemp(prefix="def-audit-")
        self.addCleanup(shutil.rmtree, root)
        for rel, text in files.items():
            p = os.path.join(root, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "w", encoding="utf-8") as f:
                f.write(text)
        return root

    def unreached(self, files, allow=None):
        shown, stale = def_audit.audit(self.tree(files), allow or {})
        return [m.qualified() for m in shown], stale

    MAIN = "src/main/scala/graft/Main.scala"

    def test_unreached_def_is_reported(self):
        shown, _ = self.unreached({self.MAIN: """
object Main {
  def main(args: Array[String]): Unit = Lib.used()
}
object Lib {
  def used(): Int = 1
  def unused(): Int = 2
}
"""})
        self.assertEqual(shown, ["Lib.unused"])

    def test_def_used_only_by_an_unreached_def_is_reported(self):
        shown, _ = self.unreached({self.MAIN: """
object Main {
  def main(args: Array[String]): Unit = ()
}
object Lib {
  def outer(): Int = inner() + 1
  def inner(): Int = 2
}
"""})
        self.assertEqual(sorted(shown), ["Lib"])
        shown, _ = self.unreached({self.MAIN: """
object Main {
  def main(args: Array[String]): Unit = Lib.kept()
}
object Lib {
  def kept(): Int = 0
  def outer(): Int = inner() + 1
  def inner(): Int = 2
}
"""})
        self.assertEqual(sorted(shown), ["Lib.inner", "Lib.outer"])

    def test_def_used_only_inside_an_interpolation_is_live(self):
        shown, _ = self.unreached({self.MAIN: '''
object Main {
  def main(args: Array[String]): Unit =
    println(s"""SELECT ${Sql.expr("x")} AS y, "quoted" FROM t""")
}
object Sql {
  def expr(c: String): String = c
  def other(c: String): String = c
}
'''})
        self.assertEqual(shown, ["Sql.other"])

    def test_def_named_only_in_a_comment_or_string_is_unreached(self):
        shown, _ = self.unreached({self.MAIN: """
object Main {
  // calls Lib.helper
  /** see [[Lib.helper]] */
  def main(args: Array[String]): Unit = println("Lib.helper " + Lib.x)
}
object Lib {
  val x = 1
  def helper(): Int = 2
}
"""})
        self.assertEqual(shown, ["Lib.helper"])

    def test_allow_listed_def_is_not_reported(self):
        files = {self.MAIN: """
object Main {
  def main(args: Array[String]): Unit = Lib.used()
}
object Lib {
  def used(): Int = 1
  def parked(): Int = helper()
  private def helper(): Int = 2
}
"""}
        shown, stale = self.unreached(files, {"Lib.parked": "kept for a later caller"})
        self.assertEqual((shown, stale), ([], []))

    def test_stale_allow_list_entry_fails_the_run(self):
        root = self.tree({self.MAIN: """
object Main {
  def main(args: Array[String]): Unit = Lib.used()
}
object Lib {
  def used(): Int = 1
}
"""})
        shown, stale = def_audit.audit(root, {"Lib.used": "no longer unreached"})
        self.assertEqual((shown, stale), ([], ["Lib.used"]))
        saved = def_audit.ALLOW
        def_audit.ALLOW = {"Lib.used": "no longer unreached"}
        try:
            self.assertEqual(def_audit.main(["def_audit.py", root]), 1)
        finally:
            def_audit.ALLOW = saved

    def test_benchmark_sources_and_overrides_are_roots(self):
        shown, _ = self.unreached({
            self.MAIN: """
object Main {
  def main(args: Array[String]): Unit = ()
}
object Lib {
  def forBench(): Int = 1
}
class Kernel extends Base {
  override def eval(): Int = Lib2.step()
}
object Lib2 {
  def step(): Int = 1
}
""",
            "benchmark/src/main/scala/bench/B.scala": """
object B { val n = Lib.forBench() + new graft.Kernel().eval() }
"""})
        self.assertEqual(shown, [])


if __name__ == "__main__":
    unittest.main()
