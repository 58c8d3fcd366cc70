"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same pair gives
byte-identical Parquet files, a different seed gives different rows with
the same row counts and key cardinalities (so the program's size-based
branches, such as broadcast crossovers and driver-side BPE training,
take the same side on every seed).

Generated inputs are cached on disk under ``<cache>/<kind>-<size>-s<seed>``
and generation never runs inside a timed region. Each input directory
carries a ``manifest.json`` with the rows and bytes of every table; the
bytes are the base of ``write_amp``.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Raw headers of the acordos sheet (FIXTURES.md section A), in order.
ACORDOS_HEADERS = [
    "Data de Celebração", "Parceiro", "Tipo de Parceiro", "Continente",
    "Região", "Local de Assinatura", "Tipo de Acordo", "Título",
    "Objetivo", "Recursos", "Tipo de Documento", "Vigência", "Link",
]

_PARTNERS = [
    "frança", "alemanha", "japão", "angola", "brasil", "chile", "índia",
    "canadá", "méxico", "onu", "unesco", "banco mundial", "mercosul",
    "união africana", "portugal", "itália", "egito", "peru", "china",
    "organização dos estados americanos",
]
_CONTINENTS = ["europa", "ásia", "áfrica", "américa do sul", "américa do norte", "oceania"]
_REGIONS = [
    "europa ocidental", "leste europeu", "sudeste asiático", "áfrica austral",
    "cone sul", "caribe", "oriente médio", "pacífico sul",
]
_CITIES = ["brasília", "paris", "tóquio", "luanda", "genebra", "nova york", "lisboa", "roma", "cairo", "lima"]
_AGREEMENT_TYPES = ["memorando", "acordo básico", "protocolo", "convênio", "tratado", "ajuste complementar"]
_RESOURCES = ["petróleo", "educação", "saúde", "defesa", "ciência", "agricultura", "cultura"]
_DOC_TYPES = ["acordo", "memorando de entendimento", "protocolo de intenções", "carta"]
_TITLE_WORDS = [
    "acordo", "de", "cooperação", "técnica", "entre", "o", "governo", "da",
    "república", "federativa", "do", "brasil", "e", "para", "o'neill",
    "bem-estar", "intercâmbio", "cultural", "científico", "educacional",
]
_OBJECTIVES = ["cooperação", "intercâmbio", "pesquisa", "comércio", "formação", "assistência"]
_BAD_DATES = ["31/02/2020", "n/a", "", "2020-13-45", "00/00/0000", "32/13/2019"]

_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream order group filter vector"
).split()
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "black"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "valve", "spring", "nut"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: Per-workload input sizes. One size per workload keeps every seed on
#: the same side of the program's size-based branches.
SIZES = {
    "lake": {"rows": 10_000, "events": 4_000},
    "star": {"scale": 0.01},
}


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, *salt.encode()])


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _noisy(rng: np.random.Generator, col: np.ndarray, null_p: float, dash_p: float) -> np.ndarray:
    """Random case/whitespace noise plus NULLs and '-' sentinels."""
    out = col.copy()
    n = len(out)
    upper = rng.random(n) < 0.2
    out[upper] = [s.upper() for s in out[upper]]
    pad = rng.random(n) < 0.3
    out[pad] = ["  " + s + " " for s in out[pad]]
    u = rng.random(n)
    out[u < null_p] = None
    out[(u >= null_p) & (u < null_p + dash_p)] = "-"
    return out


def _dates(rng: np.random.Generator, n: int, bad_p: float) -> np.ndarray:
    day = np.datetime64("2000-01-01") + rng.integers(0, 9000, n).astype("timedelta64[D]")
    good = [f"{s[8:10]}/{s[5:7]}/{s[0:4]}" for s in day.astype(str)]
    out = np.asarray(good, dtype=object)
    bad = rng.random(n) < bad_p
    out[bad] = _pick(rng, _BAD_DATES, int(bad.sum()))
    return out


def gen_acordos(seed: int, rows: int) -> dict[str, pa.Table]:
    """``acordos_raw``: 13 string columns, ~5% malformed dd/MM/yyyy
    dates, whitespace and case noise, '-' sentinels and NULLs, titles
    over 255 characters, ~15% exact duplicate rows."""
    rng = _rng(seed, "acordos")
    n_unique = rows - rows * 15 // 100
    words = _pick(rng, _TITLE_WORDS, n_unique * 8).reshape(n_unique, 8)
    titles = np.asarray([" ".join(w) for w in words], dtype=object)
    long = rng.random(n_unique) < 0.05
    titles[long] = [t + " " + "x" * 300 for t in titles[long]]
    cols = {
        "Data de Celebração": _dates(rng, n_unique, 0.05),
        "Parceiro": _noisy(rng, _pick(rng, _PARTNERS, n_unique), 0.03, 0.02),
        "Tipo de Parceiro": _noisy(rng, _pick(rng, ["país", "organização"], n_unique), 0.02, 0.0),
        "Continente": _noisy(rng, _pick(rng, _CONTINENTS, n_unique), 0.1, 0.1),
        "Região": _noisy(rng, _pick(rng, _REGIONS, n_unique), 0.1, 0.1),
        "Local de Assinatura": _noisy(rng, _pick(rng, _CITIES, n_unique), 0.05, 0.05),
        "Tipo de Acordo": _noisy(rng, _pick(rng, _AGREEMENT_TYPES, n_unique), 0.05, 0.05),
        "Título": titles,
        "Objetivo": _noisy(rng, _pick(rng, _OBJECTIVES, n_unique), 0.05, 0.05),
        "Recursos": _noisy(rng, _pick(rng, _RESOURCES, n_unique), 0.05, 0.05),
        "Tipo de Documento": _noisy(rng, _pick(rng, _DOC_TYPES, n_unique), 0.05, 0.05),
        "Vigência": _dates(rng, n_unique, 0.05),
        "Link": np.asarray(
            [f"https://acordos.example/{i}-{v}" for i, v in enumerate(rng.integers(0, 10**9, n_unique))],
            dtype=object,
        ),
    }
    # ~15% exact duplicates, then a seeded shuffle of the row order
    idx = np.concatenate([np.arange(n_unique), rng.integers(0, n_unique, rows - n_unique)])
    idx = idx[rng.permutation(rows)]
    table = pa.table({h: pa.array(cols[h][idx], pa.string()) for h in ACORDOS_HEADERS})
    return {"acordos_raw": table}


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    texts = [" ".join(_pick(rng, _DOC_WORDS, k)) for k in lens]
    # ~10% near-copies of an earlier document with a few words changed,
    # so the near-duplicate paths have candidate pairs to verify
    for i in np.flatnonzero(rng.random(n) < 0.10):
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split()
        for j in rng.integers(0, len(words), max(1, len(words) // 12)):
            words[j] = _DOC_WORDS[int(rng.integers(0, len(_DOC_WORDS)))]
        texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, ["en", "es", "de", "fr", "zh"], n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _gen_embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(scale=0.8, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def _gen_events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = 30 * 86_400 * 10**6
    offsets = np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", offsets),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(_pick(rng, _EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def gen_star(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus events, documents and embeddings,
    with the schemas of FIXTURES.md section B. Row counts scale with
    *scale* exactly as the sf<N> testdata does (lineitem ~6M x scale)."""
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGION_NAMES, pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n_cust), pa.string()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(_pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(_pick(rng, _PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    day_us = 86_400 * 10**6
    order_days = rng.integers(0, 2404, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, _STATUS, n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", order_days * day_us),
        "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n_ord), pa.string()),
    })
    lines = (np.arange(n_ord) * 5 + 3) % 7 + 1  # 1..7 lines, same count every seed
    n_line = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_num.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), pa.string()),
        "l_shipdate": _ts("1995-01-01", (np.repeat(order_days, lines) + rng.integers(1, 122, n_line)) * day_us),
    })
    perm = rng.permutation(n_line)  # fact rows arrive in seeded order
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders.take(rng.permutation(n_ord)),
        "lineitem": lineitem.take(perm),
        "events": _gen_events(rng, int(1_000_000 * scale), max(1, int(15_000 * scale))),
        "documents": _gen_documents(rng, int(50_000 * scale)),
        "embeddings": _gen_embeddings(rng, int(50_000 * scale)),
    }


def gen_lake(seed: int, rows: int, events: int) -> dict[str, pa.Table]:
    """The lake's inputs for one day: the raw acordos sheet and the
    event feed of the incremental upsert (two events per user, so every
    microbatch touches a fraction of a snapshot it rewrites whole)."""
    return {**gen_acordos(seed, rows), "events": _gen_events(_rng(seed, "events"), events, events // 2)}


GENERATORS: dict[str, Callable[..., dict[str, pa.Table]]] = {
    "lake": gen_lake,
    "star": gen_star,
}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict:
    """Write each table as ``<out_dir>/<name>.parquet`` (one file, fixed
    writer settings so the bytes depend only on the rows) and return the
    manifest of rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict[str, dict[str, int]] = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
        manifest[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return manifest


#: cached input sets kept per checkout (the oldest are deleted)
CACHE_KEEP = 6


def ensure_inputs(cache_dir: str, kind: str, seed: int) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` of the cached inputs for (kind, seed),
    generating them on a miss."""
    size = SIZES[kind]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(cache_dir, f"{kind}-{tag}-s{seed}")
    mf = os.path.join(out, "manifest.json")
    if not os.path.exists(mf):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        manifest = write_tables(GENERATORS[kind](seed, **size), tmp)
        with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        entries = sorted(
            (os.path.join(cache_dir, d) for d in os.listdir(cache_dir) if ".tmp" not in d),
            key=os.path.getmtime,
        )
        for old in entries[:-CACHE_KEEP]:
            shutil.rmtree(old, ignore_errors=True)
    with open(mf, encoding="utf-8") as fh:
        return out, json.load(fh)
