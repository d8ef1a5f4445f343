from __future__ import annotations

import os

import pytest

from hospital_stain_tracker_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_manifest.txt")


def pytest_collection_modifyitems(config, items):
    """Round 15 suite tiers: the full suite is ~45-50 min of wall
    clock — longer than any CI/verify window — so the measured long
    tail (tests/slow_manifest.txt: per-test call time >= 4 s in a full
    instrumented run, dominated by subprocess CLI round-trips and
    planted-corpus scale guards) is marked ``slow`` here and excluded
    by pytest.ini's ``addopts = -m "not slow"``. The SAME command runs
    everything under ``SPARK_GRAFT_FULL_TESTS=1`` (nothing gets
    marked, so the filter matches nothing). Manifest entries are
    node ids relative to tests/ (a bare file path marks the whole
    module); see SCALE.md "Test-suite tiers" for what the excluded
    tier pins."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    # a test named explicitly — by node id or by its file — must RUN,
    # not silently deselect to a green no-op: skip the marking when the
    # invocation targets specific tests (a directory keeps the tiers)
    if any("::" in a or a.endswith(".py") for a in config.args):
        return
    try:
        with open(_SLOW_MANIFEST) as fh:
            slow = {
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except FileNotFoundError:
        return
    for item in items:
        nid = item.nodeid
        if nid.startswith("tests/"):
            nid = nid[len("tests/"):]
        if nid in slow or nid.split("::", 1)[0] in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def assert_no_orphans(spark):
    """Check that an artifact root holds exactly the part dirs its live
    manifest lists plus ``_manifest/``, which holds only that manifest
    (what every commit's sweep leaves behind)."""
    from hospital_stain_tracker_data_pipeline_spark.artifacts import (
        load_manifest,
    )

    def check(path: str) -> None:
        m = load_manifest(spark, path)
        listed = {d for ds in m.parts.values() for d in ds}
        root = path.removeprefix("file://")
        assert set(os.listdir(root)) == listed | {"_manifest"}
        visible = [
            f for f in os.listdir(os.path.join(root, "_manifest"))
            if not f.startswith(".")
        ]
        assert visible == [f"{m.version}.json"]

    return check


@pytest.fixture
def crash_in(monkeypatch):
    """``with crash_in(when): op()`` — crash ``op``'s artifact commit
    ``"before"`` the manifest create (the commit point) or ``"after"``
    it (inside the orphan sweep), and expect ``op`` to die of it."""
    import contextlib

    from hospital_stain_tracker_data_pipeline_spark import artifacts

    steps = {"before": "_create_manifest", "after": "_sweep"}

    @contextlib.contextmanager
    def ctx(when: str):
        def boom(*_a, **_k):
            raise RuntimeError(f"crash {when} the manifest create")

        with monkeypatch.context() as mp:
            mp.setattr(artifacts, steps[when], boom)
            with pytest.raises(RuntimeError, match="crash"):
                yield

    return ctx
