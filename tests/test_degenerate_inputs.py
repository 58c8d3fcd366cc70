"""Registry-wide degenerate-input sweep (r10 VERDICT item 1).

Every registry key runs against TWO fixtures derived from the real
sf0.001 parquet — all tables truncated to 0 rows and to 1 row — and
must either:

- evaluate cleanly (collect succeeds; float outputs contain no NaN/inf
  — the NaN-poisoned-aggregate class the r10 ANSI sweep eliminated via
  ``try_divide``), or
- raise a documented ``ValueError`` eagerly (never an AnalysisException
  leak, a ``rows[0]`` IndexError from a bounded-collect site, or a
  ``ZeroDivisionError`` from a driver-side count).

When a key returns DataFrames on BOTH fixtures, their schemas must
agree — an operator whose declared schema degrades on empty input
would break any downstream union/write.

Keys that legitimately raise (probe-parameter lookups and quantizer
training floors) and where: ``ext_simsearch`` / ``ext_hybrid_rrf`` /
``ext_simsearch_{ivf,pq,ivfpq}`` (query id 0 absent from an empty
table — the guard documented on `query_vector`/`ivf_topk`/`pq_topk`),
``ext_simsearch_{ivf,ivfpq}`` + ``ext_stream_ann_index`` at 1 row
(coarse-quantizer training sample floor, documented on
`train_coarse_centroids` / `streaming_ann_index_run`), ``ext_kmeans``
on empty (`kmeans_assign` empty-input guard), ``src_records`` on empty
(the reference's empty-payload hard error, tasks/bronze.py parity).
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as contract
from etl_acordos_spark.session import scoped_conf
from tools.degenerate_fixtures import build_fixture

ALL_KEYS = sorted(contract.queries())


@pytest.fixture(scope="session")
def degenerate_dirs(spark, tmp_path_factory) -> dict[str, str]:
    base = tmp_path_factory.mktemp("degenerate")
    return {
        "empty": build_fixture(spark, str(base / "empty"), 0),
        "onerow": build_fixture(spark, str(base / "onerow"), 1),
    }


def _float_cols(schema) -> list[str]:
    return [
        f.name
        for f in schema.fields
        if f.dataType.simpleString() in ("double", "float")
    ]


def _run(regs, key, spark, fdir):
    """Returns (schema, rows) or the raised ValueError."""
    try:
        df = regs[key](spark, fdir)
        return df.schema, df.limit(1000).collect()
    except ValueError as exc:
        assert str(exc), f"{key}: ValueError must carry a message"
        return exc


@pytest.mark.parametrize("key", ALL_KEYS)
def test_degenerate_inputs(spark, degenerate_dirs, key):
    regs = contract.queries()
    outcomes = {}
    for fname, fdir in degenerate_dirs.items():
        got = _run(regs, key, spark, fdir)
        outcomes[fname] = got
        if isinstance(got, ValueError):
            continue
        schema, rows = got
        for col in _float_cols(schema):
            for r in rows:
                v = r[col]
                assert v is None or (
                    not math.isnan(v) and not math.isinf(v)
                ), f"{key}/{fname}: NaN/inf in {col!r}: {v!r}"
    if not any(isinstance(o, ValueError) for o in outcomes.values()):
        empty_schema = [
            (f.name, f.dataType.simpleString())
            for f in outcomes["empty"][0].fields
        ]
        onerow_schema = [
            (f.name, f.dataType.simpleString())
            for f in outcomes["onerow"][0].fields
        ]
        assert empty_schema == onerow_schema, (
            f"{key}: declared schema degrades on empty input"
        )


def test_build_fixture_leaves_nanos_as_long_as_it_was(spark, tmp_path):
    """A fixture build copies events under ``nanosAsLong`` but restores
    the session's setting afterwards: the degenerate sweep shares its
    session with every other test."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with scoped_conf(spark, {key: "false"}):
        build_fixture(spark, str(tmp_path / "onerow"), 1)
        assert spark.conf.get(key) == "false"
