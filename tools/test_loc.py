"""Unit tests of tools/loc.py over two tiny source trees.

    python3 -m unittest tools/test_loc.py
"""

import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import loc  # noqa: E402

# 4 code lines: the doc comment, the line comment and the blank line do not count
KEPT = """package a

/** A doc comment
  * over two lines. */
object Kept {
  // a line comment
  val x = 1 // a trailing comment does not make the line a comment
}
"""
OLD = """package a
object Changed {
  /* one block comment */
  def f = 1
  def g = 2
}
"""
NEW = """package a
object Changed {
  def f = 1
}
"""
GONE = "package a\nobject Gone\n"
ADDED = "package a\n\nobject Added {\n   * not Scala, but still a comment-only line\n}\n"


class LocTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)
        self.parent = self.tree("parent", {"a/Kept.scala": KEPT, "a/Changed.scala": OLD,
                                           "Gone.scala": GONE})
        self.change = self.tree("change", {"a/Kept.scala": KEPT, "a/Changed.scala": NEW,
                                           "b/Added.scala": ADDED})

    def tree(self, name, files):
        root = os.path.join(self.tmp.name, name)
        for path, text in files.items():
            full = os.path.join(root, "src", "main", "scala", path)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "w", encoding="utf-8") as f:
                f.write(text)
        return root

    def rows(self, *trees):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            loc.main(list(trees))
        return [[c.strip() for c in line.strip("|").split("|")]
                for line in out.getvalue().splitlines()[2:]]

    def test_counts_code_lines_only(self):
        self.assertEqual(loc.code_lines(KEPT), 4)
        self.assertEqual(loc.code_lines(OLD), 5)
        self.assertEqual(loc.code_lines(ADDED), 3)

    def test_differing_files_and_totals(self):
        self.assertEqual(self.rows(self.parent, self.change), [
            ["`Gone.scala`", "2", "0", "-2"],
            ["`a/Changed.scala`", "5", "4", "-1"],
            ["`b/Added.scala`", "0", "3", "+3"],
            ["total (src/main/scala)", "11", "11", "+0"],
        ])

    def test_identical_trees_print_only_the_total(self):
        self.assertEqual(self.rows(self.parent, self.parent),
                         [["total (src/main/scala)", "11", "11", "+0"]])

    def test_a_tree_without_sources_is_refused(self):
        with self.assertRaises(SystemExit), contextlib.redirect_stderr(io.StringIO()):
            loc.main([self.parent, self.tmp.name])


if __name__ == "__main__":
    unittest.main()
