#!/usr/bin/env python3
"""Repository benchmark entry point; see perfbench/core.py.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.core import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
