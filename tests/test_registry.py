"""Registry consistency, without Spark: every `__spark_entry__` query has a
DuckDB oracle and every oracle a query, and every plan-audit whitelist
entry names a live query. Deleting a query must take its oracle and its
whitelist entry with it."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    entry = _load("entry_under_test", REPO / "__spark_entry__.py")
    queries, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert queries - oracles == set()
    assert oracles - queries == set()


def test_plan_audit_whitelist_names_only_registry_queries():
    entry = _load("entry_under_test", REPO / "__spark_entry__.py")
    audit = _load("plan_audit_under_test", REPO / "tools" / "plan_audit.py")
    assert audit.GLOBAL_WINDOW_ALLOWED - set(entry.queries()) == set()


def test_plan_audit_loads_the_entry_file_of_its_own_checkout():
    audit = _load("plan_audit_under_test", REPO / "tools" / "plan_audit.py")
    assert Path(audit.ENTRY_FILE).resolve() == REPO / "__spark_entry__.py"


def test_building_the_registry_starts_no_jvm():
    # a fresh interpreter: the session-scoped fixture may own a JVM here
    code = (
        "import __spark_entry__ as e\n"
        "e.queries(); e.oracle_sql()\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None, 'JVM started'\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True, timeout=120)
