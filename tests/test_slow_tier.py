"""The slow tier (`tests/slow_tier.py`): its environment switch, the
command-line override, and that every listed id names a real test."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from tests.slow_tier import SLOW_TESTS, named_node_ids, run_slow_from_env

REPO = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("value", ["1", "true", "TRUE", "yes", " Yes "])
def test_run_slow_env_enables(value):
    assert run_slow_from_env(value)


@pytest.mark.parametrize("value", [None, "", "0", "false", "no", "off", "2"])
def test_run_slow_env_keeps_slow_tier_skipped(value):
    assert not run_slow_from_env(value)


def test_named_node_ids_relative_to_rootdir():
    args = [
        "tests/test_operators.py::test_bm25_pruned_parity",
        "test_oracle_parity.py::test_query_matches_oracle[dedup_levenshtein]",
        str(REPO / "tests/test_plans.py") + "::test_x",
        "tests/test_operators.py",
        "/elsewhere/test_y.py::test_y",
    ]
    got = named_node_ids(args[:1], REPO, REPO)
    got |= named_node_ids(args[1:2], REPO / "tests", REPO)
    got |= named_node_ids(args[2:], REPO, REPO)
    assert got == {
        "tests/test_operators.py::test_bm25_pruned_parity",
        "tests/test_oracle_parity.py::"
        "test_query_matches_oracle[dedup_levenshtein]",
        "tests/test_plans.py::test_x",
    }


def _defines(tree: ast.Module, names: list[str]) -> bool:
    """Whether ``tree`` defines the (class-nested) test ``names``."""
    body = tree.body
    for i, name in enumerate(names):
        kinds = (ast.ClassDef,) if i < len(names) - 1 else (
            ast.FunctionDef, ast.AsyncFunctionDef,
        )
        node = next(
            (n for n in body if isinstance(n, kinds) and n.name == name), None
        )
        if node is None:
            return False
        body = node.body
    return True


def test_every_slow_test_id_names_a_defined_test():
    """A renamed or deleted test would silently leave the slow tier;
    check each id against its file's AST instead of collecting it."""
    trees: dict[str, ast.Module | None] = {}
    missing = []
    for node_id in sorted(SLOW_TESTS):
        path, *names = node_id.split("::")
        names[-1] = re.sub(r"\[.*\]$", "", names[-1])
        if path not in trees:
            file = REPO / path
            trees[path] = ast.parse(file.read_text()) if file.is_file() else None
        if trees[path] is None or not _defines(trees[path], names):
            missing.append(node_id)
    assert not missing, f"slow-tier ids with no such test: {missing}"
