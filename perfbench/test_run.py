"""Self-test of the launcher's build check: python3 perfbench/test_run.py"""
import os
import tempfile
import time
import unittest

import run


class ClassesHoldTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = os.path.join(self.tmp.name, "classes")
        os.makedirs(os.path.join(self.dir, "pkg"))
        with open(os.path.join(self.dir, "pkg", "A.class"), "w") as f:
            f.write("a")
        time.sleep(0.01)
        with open(os.path.join(self.dir, run.SOURCE_MARK), "w") as f:
            f.write("d1\n")

    def tearDown(self):
        self.tmp.cleanup()

    def test_marker_of_the_current_sources_holds(self):
        self.assertTrue(run.classes_hold([self.dir], "d1"))

    def test_marker_of_other_sources_does_not_hold(self):
        # parent -> change -> parent: the change's build rewrote the marker
        self.assertFalse(run.classes_hold([self.dir], "d2"))

    def test_a_class_written_after_the_marker_does_not_hold(self):
        time.sleep(0.01)
        with open(os.path.join(self.dir, "pkg", "B.class"), "w") as f:
            f.write("b")
        self.assertFalse(run.classes_hold([self.dir], "d1"))

    def test_missing_marker_or_directory_does_not_hold(self):
        os.remove(os.path.join(self.dir, run.SOURCE_MARK))
        self.assertFalse(run.classes_hold([self.dir], "d1"))
        self.assertFalse(run.classes_hold([], "d1"))


if __name__ == "__main__":
    unittest.main()
