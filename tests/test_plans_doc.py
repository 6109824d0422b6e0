"""docs/PLANS.md staleness guard (VERDICT_r4 #5): the plan-audit artifact
must be regenerated when the reviewed query set changes — round 4 shipped
plan changes (codec-stage repartition, dense-rank replay, clamped widths)
while PLANS.md still showed round 3's dump."""

from __future__ import annotations

import ast
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = os.path.join(REPO, "docs", "PLANS.md")


def _dump_plans_cases() -> dict:
    spec = importlib.util.spec_from_file_location(
        "dump_plans", os.path.join(REPO, "scripts", "dump_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.CASES


def test_plans_doc_covers_current_case_set():
    """Every reviewed case appears in the committed PLANS.md — a case
    added to dump_plans.py without re-running it fails here."""
    assert os.path.exists(PLANS), "docs/PLANS.md missing — run scripts/dump_plans.py"
    text = open(PLANS).read()
    missing = [name for name in _dump_plans_cases() if f"## {name}" not in text]
    assert not missing, (
        f"PLANS.md is stale — missing {missing}; run scripts/dump_plans.py"
    )


def test_dump_plans_cases_exist_in_entry():
    """Every reviewed case is a real queries() entry (renames can't leave
    the audit pointing at dead names)."""
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    missing = [name for name in _dump_plans_cases() if name not in qs]
    assert not missing, f"dump_plans CASES not in queries(): {missing}"


def test_dump_plans_cases_has_no_duplicate_keys():
    """A repeated key in the CASES literal silently drops the first
    description (the dict keeps the last), so check the source itself."""
    tree = ast.parse(open(os.path.join(REPO, "scripts", "dump_plans.py")).read())
    (cases,) = [
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "CASES" for t in node.targets)
    ]
    keys = [k.value for k in cases.keys]
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate CASES keys in dump_plans.py: {dupes}"
