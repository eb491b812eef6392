#!/usr/bin/env python3
"""Generator tests: same seed → byte-identical inputs, another seed →
different inputs, expected routing counts = the topic model's.

    python3 perfbench/test_generator.py
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

if __name__ == "__main__":
    cp = os.pathsep.join(build.build())
    sys.exit(subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp,
                             "perfbench.GenTest"]).returncode)
