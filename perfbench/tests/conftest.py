import os
import sys

_BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (_BENCH, os.path.dirname(_BENCH)):
    if p not in sys.path:
        sys.path.insert(0, p)
