"""Seeded inputs: the same seed gives byte-identical files, another
seed gives other rows with the same row counts."""

import os

import pyarrow.parquet as pq
import pytest

import gen


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_inputs(kind, tmp_path):
    a, ma = gen.ensure_inputs(str(tmp_path / "a"), kind, 7)
    b, mb = gen.ensure_inputs(str(tmp_path / "b"), kind, 7)
    assert ma == mb
    assert _files(a) == _files(b)


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_other_seed_gives_other_rows_with_same_counts(kind, tmp_path):
    a, ma = gen.ensure_inputs(str(tmp_path / "c"), kind, 1)
    b, mb = gen.ensure_inputs(str(tmp_path / "c"), kind, 2)
    assert {t: m["rows"] for t, m in ma.items()} == {t: m["rows"] for t, m in mb.items()}
    fa, fb = _files(a), _files(b)
    # every table that has seeded content differs (region/nation are fixed)
    changed = [t for t in fa if t != "manifest.json" and fa[t] != fb[t]]
    fixed = {"region.parquet", "nation.parquet"}
    assert set(changed) == {t for t in fa if t != "manifest.json"} - fixed


def test_star_key_cardinalities_do_not_depend_on_seed(tmp_path):
    def distinct(d, table, col):
        return len(set(pq.read_table(os.path.join(d, f"{table}.parquet"), columns=[col])[col].to_pylist()))

    a, _ = gen.ensure_inputs(str(tmp_path), "star", 3)
    b, _ = gen.ensure_inputs(str(tmp_path), "star", 4)
    for table, col in [("part", "p_partkey"), ("orders", "o_orderkey"), ("customer", "c_custkey"),
                       ("embeddings", "vec_id"), ("documents", "doc_id")]:
        assert distinct(a, table, col) == distinct(b, table, col)


def test_acordos_shape():
    t = gen.gen_acordos(5, 2000)["acordos_raw"]
    assert t.column_names == gen.ACORDOS_HEADERS
    rows = t.to_pylist()
    distinct = {tuple(sorted(r.items())) for r in rows}
    assert 0.10 <= 1 - len(distinct) / len(rows) <= 0.16  # ~15% exact duplicates
    titles = [r["Título"] for r in rows]
    assert any(len(x) > 255 for x in titles)
    dates = [r["Data de Celebração"] for r in rows]
    assert any(d in gen._BAD_DATES for d in dates)
    assert any(r["Continente"] == "-" for r in rows) and any(r["Continente"] is None for r in rows)
