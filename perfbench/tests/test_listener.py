"""Runs the JVM-side checks of the tracing code (ListenerDrainCheck):
listener drain without sleeps, job-to-span attribution, self time."""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import build  # noqa: E402
import run  # noqa: E402


class ListenerDrain(unittest.TestCase):
    def test_jvm_checks_pass(self):
        try:
            cp = build.build(with_tests=True)
        except build.BuildError as e:
            self.skipTest(f"cannot build: {e}")
        cmd = [build.java(), "-Xmx1g", "-XX:-UsePerfData"]
        cmd += [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        tmp = build.BUILD / "test-tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        cmd += [f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp), "perfbench.ListenerDrainCheck"]
        r = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout[-4000:])


if __name__ == "__main__":
    unittest.main()
