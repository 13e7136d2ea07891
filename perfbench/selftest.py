"""Runs the benchmark's own tests (perfbench/src/SelfTest.scala): each
output check the benchmark makes passes on intact output and fails when one
input file or one output row is dropped.

    python3 perfbench/selftest.py
"""

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    try:
        classpath = build.build()
    except build.BuildError as e:
        print("selftest: build failed: %s" % e, file=sys.stderr)
        return 2
    tmp = run.make_tmp()
    try:
        code, out = run.run_jvm(run.java_cmd(classpath, tmp, "perfbench.SelfTest", [
            "--tmp", tmp, "--cores", str(run.cores())]), cwd=tmp)
    finally:
        run.remove_tmp(tmp)
    sys.stdout.write(out)
    return code


if __name__ == "__main__":
    sys.exit(main())
