"""The workloads: each is a list of operations one client runs in order,
over and over (a closed loop), plus an output check that runs outside
the timed region.

An operation is one call into a public function of the program; its
name is the span (layer) it is recorded under.
"""

from __future__ import annotations

import contextlib
import functools
import os
import random
import shutil
import sqlite3
from collections.abc import Callable
from dataclasses import dataclass

from checks import same_rows

Op = tuple[str, Callable[[], object]]


@dataclass
class Inputs:
    dir: str
    manifest: dict  # table -> {"rows", "bytes"}

    def path(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.parquet")

    def bytes(self, tables) -> int:
        return sum(self.manifest[t]["bytes"] for t in tables)


class Workload:
    """Base: ``ops()`` for one pass, ``reset()`` before each pass
    (untimed), ``check()`` after the timed region -> {op: error}."""

    kind: str  # input generator (gen.GENERATORS key)

    def __init__(self, spark, inputs: Inputs, work: str, seed: int) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.seed = seed

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def reset(self) -> None:
        pass

    def pass_bytes(self) -> int:
        raise NotImplementedError

    def feed_bytes(self) -> dict[str, int]:
        """Input bytes per streaming span (the base of rewrite_ratio)."""
        return {}

    def check(self, duck) -> dict[str, str]:
        raise NotImplementedError


# ---------------------------------------------------------- lake writes

_GOLD = ("acordos", "hier", "pais", "org")


def _duck_initcap(s: str | None) -> str | None:
    """Spark ``initcap``: lower-case everything, upper-case the first
    letter and every letter that follows a space."""
    if s is None:
        return None
    low = s.lower()
    return "".join(c.upper() if i == 0 or low[i - 1] == " " else c for i, c in enumerate(low))


def _expected_gold_sql(raw: str) -> dict[str, str]:
    """DuckDB SQL of bronze_transform -> silver_transform ->
    acordos_gold_outputs on the raw table (the transforms of
    plans/medallion.py with ACORDOS_CONFIG)."""
    defaulted = [
        "continente", "região", "local_de_assinatura", "tipo_de_acordo",
        "objetivo", "recursos", "tipo_de_documento", "parceiro",
    ]
    titled = [
        "parceiro", "tipo_de_parceiro", "continente", "região",
        "local_de_assinatura", "tipo_de_acordo", "recursos", "tipo_de_documento",
    ]

    def silver_col(c: str) -> str:
        expr = f'"{c}"'
        if c in defaulted:
            expr = f"coalesce({expr}, 'não informado')"
            expr = f"CASE WHEN {expr} = '-' THEN 'não informado' ELSE {expr} END"
        if c in titled:
            expr = f"initcap(trim({expr}, ' '))"
        return f'{expr} AS "{c}"'

    keep = [
        "parceiro", "tipo_de_parceiro", "continente", "região",
        "local_de_assinatura", "tipo_de_acordo", "título", "objetivo",
        "recursos", "tipo_de_documento",
    ]
    bronze = (
        f"SELECT try_strptime(trim(\"Data de Celebração\", ' '), '%d/%m/%Y')::DATE AS data_de_celebração,"
        ' "Parceiro" AS parceiro, "Tipo de Parceiro" AS tipo_de_parceiro,'
        ' "Continente" AS continente, "Região" AS região,'
        ' "Local de Assinatura" AS local_de_assinatura, "Tipo de Acordo" AS tipo_de_acordo,'
        " substring(trim(\"Título\", ' '), 1, 255) AS título,"
        ' "Objetivo" AS objetivo, "Recursos" AS recursos, "Tipo de Documento" AS tipo_de_documento'
        f" FROM read_parquet('{raw}')"
    )
    cols = ", ".join(silver_col(c) for c in keep if c != "título") + ', "título"'
    silver = f"SELECT DISTINCT {cols}, CAST(year(data_de_celebração) AS INTEGER) AS ano FROM ({bronze})"
    lc = "continente || ' > ' || região || ' > ' || local_de_assinatura"
    ar = "tipo_de_acordo || ' - ' || recursos"
    hier = f"SELECT DISTINCT {lc} AS local_completo, {ar} AS acordo_recurso FROM ({silver})"
    return {
        "acordos": f"SELECT DISTINCT * FROM ({silver})",
        "hier": hier,
        "pais": hier.replace(f"FROM ({silver})", f"FROM ({silver}) WHERE tipo_de_parceiro = 'País'"),
        "org": hier.replace(f"FROM ({silver})", f"FROM ({silver}) WHERE tipo_de_parceiro = 'Organização'"),
    }


#: microbatches the event feed is delivered in
STREAM_BATCHES = 4


class LakeWrites(Workload):
    """Every write shape of the lake in one closed loop. The medallion
    batch (few large commits): bronze_transform -> write_parquet_layer ->
    silver_transform -> write_parquet_layer -> acordos_gold_outputs ->
    four gold writes, then the gold outputs dual-written to SQLite
    through sources.dbapi_sink. Then the event feed as microbatches
    (many small commits) through streaming.events.incremental_upsert_run."""

    kind = "lake"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.lake = os.path.join(self.work, "lake")
        self.db = os.path.join(self.work, "warehouse.sqlite")
        self.stream = os.path.join(self.work, "stream")

    def reset(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)
        if os.path.exists(self.db):
            os.remove(self.db)

    def _layer(self, layer: str, name: str) -> str:
        from etl_acordos_spark.sources.parquet_io import layer_key

        return os.path.join(self.lake, layer_key(layer, name))

    def ops(self) -> list[Op]:
        from etl_acordos_spark.plans.medallion import (
            ACORDOS_CONFIG,
            acordos_gold_outputs,
            bronze_transform,
            silver_transform,
        )
        from etl_acordos_spark.queries.base import read_events
        from etl_acordos_spark.sources.dbapi_sink import write_dbapi_append
        from etl_acordos_spark.sources.parquet_io import read_parquet, write_parquet_layer
        from etl_acordos_spark.streaming.events import incremental_upsert_run

        spark = self.spark

        def bronze() -> None:
            raw = read_parquet(spark, self.inputs.path("acordos_raw"))
            write_parquet_layer(bronze_transform(raw, ACORDOS_CONFIG), self.lake, "bronze", "geral")

        def silver() -> None:
            brz = read_parquet(spark, self._layer("bronze", "geral"))
            write_parquet_layer(silver_transform(brz, ACORDOS_CONFIG), self.lake, "silver", "acordos")

        def gold() -> None:
            slv = read_parquet(spark, self._layer("silver", "acordos"))
            for name, df in acordos_gold_outputs(slv).items():
                write_parquet_layer(df, self.lake, "gold", name)

        def dual_write() -> None:
            connect = functools.partial(sqlite3.connect, self.db, timeout=60)
            for name in _GOLD:
                gld = read_parquet(spark, self._layer("gold", name))
                write_dbapi_append(gld, f"gld_{name}", connect, writer_partitions=1, dialect="sqlite")

        def events() -> None:
            ev = read_events(spark, self.inputs.dir)
            incremental_upsert_run(spark, ev, self.stream, n_batches=STREAM_BATCHES)

        return [
            ("medallion.bronze", bronze),
            ("medallion.silver", silver),
            ("medallion.gold", gold),
            ("dbapi_sink.gold", dual_write),
            ("streaming.events", events),
        ]

    def pass_bytes(self) -> int:
        return self.inputs.bytes(["acordos_raw", "events"])

    def feed_bytes(self) -> dict[str, int]:
        return {"streaming.events": self.inputs.bytes(["events"])}

    def check(self, duck) -> dict[str, str]:
        """Gold Parquet and SQLite tables against DuckDB SQL of the same
        transforms on the raw table; the settled upsert snapshot against
        the latest event per user."""
        duck.create_function("initcap", _duck_initcap, ["VARCHAR"], "VARCHAR", null_handling="special")
        errors: dict[str, str] = {}
        expected = _expected_gold_sql(self.inputs.path("acordos_raw"))
        with contextlib.closing(sqlite3.connect(self.db)) as db:
            for name, sql in expected.items():
                want = duck.sql(sql)
                cols, rows = want.columns, want.fetchall()
                got = duck.sql(f"SELECT * FROM read_parquet('{self._layer('gold', name)}/*.parquet')")
                err = same_rows(cols, rows, got.columns, got.fetchall())
                if err:
                    errors["medallion.gold"] = f"gold {name}: {err}"
                cur = db.execute(f'SELECT * FROM "gld_{name}"')
                err = same_rows(cols, rows, [d[0] for d in cur.description], cur.fetchall())
                if err:
                    errors["dbapi_sink.gold"] = f"sqlite gld_{name}: {err}"
        snapshot = os.path.join(self.stream, f"stream_upsert_{os.getpid()}", "lake")
        got = duck.sql(f"SELECT user_id, event_id, value FROM read_parquet('{snapshot}/*.parquet')")
        want = duck.sql(
            "SELECT user_id, event_id, value FROM (SELECT *, row_number() OVER"
            " (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn"
            f" FROM read_parquet('{self.inputs.path('events')}')) WHERE rn = 1"
        )
        err = same_rows(want.columns, want.fetchall(), got.columns, got.fetchall())
        if err:
            errors["streaming.events"] = err
        return errors


# ------------------------------------------------------------ query mix

#: key -> (family span, tables it reads)
QUERY_KEYS: dict[str, tuple[str, tuple[str, ...]]] = {
    "flagship": ("flagship", ("customer", "nation", "region", "orders")),
    "ext_join_star": ("operators.relational", ("lineitem", "orders", "customer", "nation", "region")),
    "ext_hierarchy": ("operators.graph", ("part",)),
    "ext_bpe_train": ("operators.text", ("documents",)),
    "ext_dedup_near": ("operators.dedup", ("documents",)),
    "ext_simsearch_ivf": ("operators.simsearch", ("embeddings",)),
}

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def duck_views(duck, inputs: Inputs) -> None:
    for t in STAR_TABLES:
        duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{inputs.path(t)}')")


class QueryMix(Workload):
    """The registry keys of QUERY_KEYS through ``__spark_entry__.queries()``
    in an order shuffled by the seed. The client collects each result
    (every key returns at most a few hundred rows), and the check
    compares the rows of the last pass with the key's oracle."""

    kind = "star"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        import __spark_entry__

        self.entry = __spark_entry__
        self.registry = __spark_entry__.queries()
        self.keys = list(QUERY_KEYS)
        random.Random(self.seed).shuffle(self.keys)
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def ops(self) -> list[Op]:
        def run(key: str) -> None:
            df = self.registry[key](self.spark, self.inputs.dir)
            self.results[key] = (df.columns, [tuple(r) for r in df.collect()])

        return [(f"query.{k}", functools.partial(run, k)) for k in self.keys]

    def pass_bytes(self) -> int:
        return sum(self.inputs.bytes(QUERY_KEYS[k][1]) for k in self.keys)

    def check(self, duck) -> dict[str, str]:
        duck_views(duck, self.inputs)
        oracles = self.entry.oracle_sql()
        errors: dict[str, str] = {}
        for key in self.keys:
            want = duck.sql(oracles[key])
            err = same_rows(want.columns, want.fetchall(), *self.results[key])
            if err:
                errors[f"query.{key}"] = err
        return errors


WORKLOADS: dict[str, type[Workload]] = {
    "lake_writes": LakeWrites,
    "query_mix": QueryMix,
}
