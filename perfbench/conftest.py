"""Lets ``python3 -m pytest perfbench`` import the benchmark and the
package from the repository root."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
