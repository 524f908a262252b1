"""The build cache key: a source edit must force a rebuild.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


class SourceDigestTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        self.saved = (run.ROOT, run.SOURCES)
        run.ROOT = root
        run.SOURCES = ((root, ("build.sbt", "project", os.path.join("src", "main"))),)
        self.write("build.sbt", "lazy val a = 1")
        self.write("project/build.properties", "sbt.version=1")
        self.write("src/main/scala/A.scala", "object A")

    def tearDown(self):
        run.ROOT, run.SOURCES = self.saved
        self.tmp.cleanup()

    def write(self, rel, text):
        path = os.path.join(self.tmp.name, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)

    def test_source_edit_changes_digest(self):
        before = run.source_digest()
        self.assertEqual(run.source_digest(), before)
        self.write("src/main/scala/A.scala", "object A { val x = 1 }")
        self.assertNotEqual(run.source_digest(), before)

    def test_new_source_file_changes_digest(self):
        before = run.source_digest()
        self.write("src/main/scala/B.scala", "object B")
        self.assertNotEqual(run.source_digest(), before)

    def test_build_outputs_do_not_change_digest(self):
        before = run.source_digest()
        self.write("project/target/streams/x", "output")
        self.write("project/project/target/y", "output")
        self.write("src/main/target/z", "output")
        self.assertEqual(run.source_digest(), before)


if __name__ == "__main__":
    unittest.main()
