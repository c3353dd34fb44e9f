"""The package's environment knobs are a closed list.

Every ``SPARK_GRAFT_*`` name the package source mentions must be on the
allowlist below, and every allowlisted name must still be read somewhere.
A new knob therefore lands only together with an edit to this list.
"""

import os
import re

import chavinha_mini_search_engine_spark as pkg

ALLOWED = {
    # postings stage: encode chunk rows
    "SPARK_GRAFT_ENCODE_CHUNK",
    # deployment settings (session.py)
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_COMMITTER_ALGO",
}


def test_package_knobs_are_allowlisted():
    root = os.path.dirname(pkg.__file__)
    found = set()
    for base, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), encoding="utf-8") as f:
                    found |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read()))
    assert found == ALLOWED
