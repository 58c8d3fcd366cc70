"""The session factory and `scoped_conf`: one place builds sessions, one
place scopes runtime conf changes, and both put the session back the way
they found it."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest

from etl_acordos_spark.session import scoped_conf

REPO_ROOT = Path(__file__).resolve().parent.parent
#: set on the test session by get_spark
SET_KEY = "spark.sql.shuffle.partitions"
#: never set anywhere
UNSET_KEY = "spark.graft.test.scopedConf"
#: scripts that deliberately simulate a bare external driver, which
#: builds its own session without the engine's factory
BARE_DRIVERS = {"tests/test_foreign_cwd.py", ".claude/skills/verify/driver_sim.py"}


def _assert_restored(spark, before: str) -> None:
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scoped_conf_restores_set_and_unset_keys(spark):
    before = spark.conf.get(SET_KEY)
    assert spark.conf.get(UNSET_KEY, None) is None
    conf = {SET_KEY: "3", UNSET_KEY: "on"}
    with scoped_conf(spark, conf):
        assert spark.conf.get(SET_KEY) == "3"
        assert spark.conf.get(UNSET_KEY) == "on"
    _assert_restored(spark, before)

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, conf):
            assert spark.conf.get(UNSET_KEY) == "on"
            raise RuntimeError("body failed")
    _assert_restored(spark, before)


def _py_files(root: Path):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [
            d for d in dirnames
            if d == ".claude" or not (d.startswith(".") or d == "__pycache__")
        ]
        for name in filenames:
            if name.endswith(".py"):
                path = Path(dirpath, name)
                yield path.relative_to(REPO_ROOT).as_posix(), path.read_text()


def test_sessions_and_conf_saves_have_one_home():
    """Every session comes from `get_spark` and every temporary conf
    change goes through `scoped_conf`: no hand-built session and no
    hand-rolled shuffle-partitions save/restore outside session.py."""
    builders = sorted(
        rel
        for rel, text in _py_files(REPO_ROOT)
        if re.search(r"SparkSession\.builder", text)
        and rel not in BARE_DRIVERS | {"etl_acordos_spark/session.py"}
    )
    assert builders == [], builders
    saves = sorted(
        rel
        for rel, text in _py_files(REPO_ROOT / "etl_acordos_spark")
        if re.search(r'conf\.get\(\s*"spark\.sql\.shuffle\.partitions"', text)
        and rel != "etl_acordos_spark/session.py"
    )
    assert saves == [], saves
