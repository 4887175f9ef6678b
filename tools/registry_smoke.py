#!/usr/bin/env python
"""0.5s sanity: the workload catalog must load, and every oracle must
name a registered query.

Run by the pre-commit hook (see tools/install_hooks.py) so that a
catalog whose ``load_all()`` raises, taking correctness checks, bench
and pytest down together, is never committed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hadoop_multiple_streaming_spark.workloads as w  # noqa: E402

w.load_all()
assert set(w.ORACLES) <= set(w.QUERIES)
print(f"registry OK: {len(w.QUERIES)} queries, {len(w.ORACLES)} oracles")
