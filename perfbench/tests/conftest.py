"""Make the repository root importable for the benchmark's own tests:
``python3 -m pytest perfbench/tests``."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
