"""The slow-tier marking hook in ``tests/conftest.py``: a directory run
keeps the fast/slow tiers, while a test named by node id or by its file
always runs."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

import conftest


class _Item:
    def __init__(self, nodeid: str):
        self.nodeid = nodeid
        self.markers: list = []

    def add_marker(self, marker) -> None:
        self.markers.append(marker)


def _slow_ids(args: list[str]) -> set[str]:
    """Node ids the hook marks slow when pytest is invoked with ``args``."""
    with open(conftest._SLOW_MANIFEST) as fh:
        ids = [
            ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")
        ]
    # one manifest entry for each tier-relevant shape, plus a fast test
    slow_file_test = next(i for i in ids if i.startswith("test_bpe.py::"))
    items = [
        _Item(f"tests/{slow_file_test}"),
        _Item("tests/test_bpe.py::a_fast_test_not_in_the_manifest"),
    ]
    conftest.pytest_collection_modifyitems(SimpleNamespace(args=args), items)
    return {it.nodeid for it in items if it.markers}


@pytest.fixture(autouse=True)
def _tiered(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FULL_TESTS", raising=False)


@pytest.mark.parametrize("args", [["tests/"], ["tests"], []])
def test_directory_run_keeps_slow_tier(args):
    marked = _slow_ids(args)
    assert len(marked) == 1
    assert next(iter(marked)).startswith("tests/test_bpe.py::")
    assert "tests/test_bpe.py::a_fast_test_not_in_the_manifest" not in marked


@pytest.mark.parametrize(
    "args",
    [
        ["tests/test_bpe.py"],
        ["tests/test_bpe.py::test_train_bpe_matches_python_reference"],
        ["tests/", "tests/test_bpe.py"],
    ],
)
def test_explicit_file_or_node_target_runs_everything(args):
    assert _slow_ids(args) == set()


def test_full_tier_env_marks_nothing(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_FULL_TESTS", "1")
    assert _slow_ids(["tests/"]) == set()
