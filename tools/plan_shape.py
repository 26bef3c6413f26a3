"""Print the physical operator tree of named __spark_entry__ queries,
normalised so two source trees can be diffed line by line.

Usage: python tools/plan_shape.py NAME [NAME ...]

Each query is built on check_oracle.py's data directory (sf0.01,
``SPARK_GRAFT_SF_DIR`` overrides it) and on the same local[8] session
check_oracle.py uses. Nothing is collected beyond what building the
query already runs. The tree is the executed plan before execution
(AQE's initial plan) with these parts removed:

- expression ids and attribute names: ``name#12L`` becomes ``@``,
  and a bare rename ``@ AS @`` becomes ``@``;
- lambda-variable counters: ``lambda x_3`` becomes ``lambda x``;
- plan ids, RDD ids, call sites and file paths.

Run it in each checkout and diff the outputs: an empty diff means the
change left the operator trees and their expressions as they were.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from check_oracle import SF_DIR  # noqa: E402
from validate_spark.session import get_spark  # noqa: E402

_SUBS = [
    (re.compile(r"[\w$.]+#\d+L?"), "@"),
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"@ AS @"), "@"),
    (re.compile(r"lambda (\w+?)_\d+\b"), r"lambda \1"),
    (re.compile(r",? ?\[plan_id=\d+\]"), ""),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r" at \S+:\d+"), ""),
    (re.compile(r"file:[^\s,\]]+"), "file:"),
]


def normalise(tree: str) -> str:
    for pat, rep in _SUBS:
        tree = pat.sub(rep, tree)
    return tree.rstrip()


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    qs = entrymod.queries()
    spark = get_spark(app="plan_shape", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = qs[name](spark, SF_DIR)
        tree = df._jdf.queryExecution().executedPlan().treeString()
        print(f"== {name} ==")
        print(normalise(tree))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
