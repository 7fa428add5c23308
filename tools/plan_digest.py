"""Print one digest per contract entry of its Catalyst optimized plan, so
two checkouts can be compared for plan identity without running a query.
Usage: python tools/plan_digest.py [sf_dir] [name_substr ...] — the same
arguments as tools/check_contract.py; sf_dir defaults to the test suite's
fixture scale.

The digest is the md5 of ``optimizedPlan().toString()`` with expression
ids (``#123``, ``#123L``) stripped; those are per-session counters, so
the same plan gives the same digest in any process. Nothing is
collected: building the optimized plan runs no Spark job."""

from __future__ import annotations

import hashlib
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod  # noqa: E402
from coolplaydruid_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402
from tools.check_contract import matching  # noqa: E402

_EXPR_ID = re.compile(r"#\d+L?")


def plan_digest(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    return hashlib.md5(_EXPR_ID.sub("", plan).encode()).hexdigest()


def main(argv: list[str]) -> int:
    sf_dir = SF_DIR
    if argv and os.path.isdir(argv[0]):
        sf_dir, argv = argv[0], argv[1:]
    queries = matching(entry_mod.queries(), argv or None)
    if not queries:
        print(f"no queries match filters {argv!r}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="plan_digest")
    for name, fn in queries.items():
        print(f"{plan_digest(fn(spark, sf_dir))}  {name}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
