"""Postings and ``term_dict`` are flat, sorted by tbucket within each file.

No package write partitions by ``tbucket``: a hive ``tbucket=`` dir per
bucket turned every postings part and ``term_dict`` into up to
``term_buckets`` files, each paying a local-FS commit, and made the
resident load open every one.  The ``tbucket IN (...)`` query filter is
pushed into the parquet scan instead and prunes row groups by their
statistics (tests/test_plans.py, tests/test_serve.py).
"""

import os
import re

import chavinha_mini_search_engine_spark as pkg

# partition_by=[..."tbucket"...] (IndexStore.write) or .partitionBy(..."tbucket"...)
TBUCKET_PARTITIONING = re.compile(
    r"""(partition_by\s*=\s*\[[^\]]*|partitionBy\([^)]*)["']tbucket["']"""
)


def test_no_package_write_partitions_by_tbucket():
    assert TBUCKET_PARTITIONING.search(
        'store.write(blocks, "postings", part=part, partition_by=["tbucket"])')
    assert TBUCKET_PARTITIONING.search('w.partitionBy("shard", "tbucket")')
    assert not TBUCKET_PARTITIONING.search(
        'store.write(u, "unified", partition_by=["shard"])')
    root = os.path.dirname(pkg.__file__)
    found = []
    for base, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(base, fn)
                with open(path, encoding="utf-8") as f:
                    if TBUCKET_PARTITIONING.search(f.read()):
                        found.append(os.path.relpath(path, root))
    assert found == []
