"""Print one digest per contract entry of its Catalyst optimized plan, so
two checkouts can be compared for plan identity without running a query.
Usage: python tools/plan_digest.py [sf_dir] [name_substr ...] — the same
arguments as tools/check_contract.py; sf_dir defaults to the test suite's
fixture scale.

The digest is the md5 of ``optimizedPlan().toString()`` with the parts
that vary from process to process stripped, so the same plan gives the
same digest in any run:
 - expression ids (``#123``, ``#123L``) and exchange ids
   (``[plan_id=123]``), per-session counters; a cached relation prints
   its physical plan, exchanges included;
 - AQE query-stage numbers (``BroadcastQueryStage 3``) and whole-stage
   codegen ids (``*(3)``) in cached relations that were executed: both
   follow the order in which concurrent stages happened to run;
 - the pid in the per-process signature-store directory
   (``coolplaydruid_sigstore/<sf key>-<pid>``, see contract._proc_store_root).

The digest itself collects nothing, but composing some contract entries
does run Spark jobs: operator pipelines persist and count intermediate
frames, and the from-store entries write their signature store first."""

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

_VOLATILE = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(QueryStage) \d+"), r"\1"),
    (re.compile(r"\*\(\d+\)"), "*"),
    (re.compile(r"(coolplaydruid_sigstore/[0-9a-f]+)-\d+"), r"\1-"),
]


def plan_digest(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return hashlib.md5(plan.encode()).hexdigest()


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
