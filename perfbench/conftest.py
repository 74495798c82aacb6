"""Make the benchmark's modules and the package importable in its tests
(``python3 -m pytest perfbench -q`` from the root of the repository)."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))
