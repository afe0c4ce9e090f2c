"""Every scaladoc under src/main/scala is attached to a definition.

Run: python3 -m unittest discover -s tools/tests
"""
import pathlib
import sys
import unittest

ROOT = pathlib.Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "tools"))
import detached_docs  # noqa: E402

FIXTURE = '''object A {
  /** Lost: only blank lines before the next doc. */

  /** Kept: this one documents `x`. */
  val x = 1

  /** Also lost,
    * over two lines. */
  /** Kept. */
  def f: Int = 2

  /* a plain block comment */
  /** Kept: a definition follows. */
  val y = 3
}
'''


class DetachedDocsTest(unittest.TestCase):
    def test_fixture(self):
        self.assertEqual(detached_docs.detached(FIXTURE), [2, 7])

    def test_src_main_has_none(self):
        found = detached_docs.scan([ROOT / "src" / "main" / "scala"])
        self.assertEqual(found, [], "\n".join(f"{p}:{n}" for p, n in found))


if __name__ == "__main__":
    unittest.main()
