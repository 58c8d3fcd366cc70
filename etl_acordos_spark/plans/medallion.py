"""Bronze → silver → gold plan builders.

Re-expresses the reference's three Airflow entry points
(tasks/bronze.py:13, tasks/silver.py:11, tasks/gold.py:11) as composable
*lazy* DataFrame plan builders: each stage takes a DataFrame and returns a
DataFrame; nothing executes until a sink materializes the plan. Layer
boundaries (Parquet writes) stay explicit to preserve restartability and
the medallion contract, but when dual-write isn't needed the three stages
fuse into one Catalyst plan — scan-to-sink with pushdown through every
stage.

The reference hard-codes the acordos schema; here the same transforms are
parameterized by `MedallionConfig` so they run over any table (the
driver's testdata, the acordos fixture, a 100 TB lake table).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_acordos_spark.functions.cleaning import (
    fill_default,
    left_n,
    normalize_column_names,
    parse_date_ddmmyyyy,
    sentinel_to_default,
    titlecase,
    trim_ws,
    year_of,
)


@dataclass
class MedallionConfig:
    """Which columns each medallion stage touches.

    Mirrors the reference's hard-coded column lists:
      - date_columns     → bronze date parses (tasks/bronze.py:55-58)
      - truncate_columns → 255-char truncation (tasks/bronze.py:59-62)
      - default_columns  → fillna + '-' replace (tasks/silver.py:37-52)
      - text_columns     → trim + titlecase (tasks/silver.py:56-65)
      - year_source/year_column → derived `ano` (tasks/silver.py:69)
      - keep_columns     → silver projection (tasks/silver.py:72)
    """

    date_columns: list[str] = field(default_factory=list)
    truncate_columns: list[str] = field(default_factory=list)
    default_columns: list[str] = field(default_factory=list)
    text_columns: list[str] = field(default_factory=list)
    year_source: str | None = None
    year_column: str = "ano"
    keep_columns: list[str] | None = None


def bronze_transform(df: DataFrame, cfg: MedallionConfig) -> DataFrame:
    """Raw → bronze: normalize names, type the dates, truncate long text.

    Reference entry point 1 (tasks/bronze.py:49-77). One lazy plan; the
    missing-value normalization of tasks/bronze.py:66-68 is a no-op in
    Spark (single NULL semantics).
    """
    out = normalize_column_names(df)
    exprs: dict[str, Column] = {}
    for c in cfg.date_columns:
        exprs[c] = parse_date_ddmmyyyy(trim_ws(c))
    for c in cfg.truncate_columns:
        exprs[c] = left_n(trim_ws(c), 255)
    if exprs:
        out = out.withColumns(exprs)
    return out


def silver_transform(df: DataFrame, cfg: MedallionConfig) -> DataFrame:
    """Bronze → silver: default missing values, clean text, derive the
    year, project, dedup.

    Reference entry point 2 (tasks/silver.py:37-72). Divergence (bug
    fix): the reference drops the ``continente`` fillna result
    (tasks/silver.py:37); here every configured column is filled.
    """
    exprs: dict[str, Column] = {}
    for c in cfg.default_columns:
        exprs[c] = sentinel_to_default(fill_default(c))
    for c in cfg.text_columns:
        base = exprs.get(c, F.col(c))
        exprs[c] = titlecase(trim_ws(base))
    if cfg.year_source:
        exprs[cfg.year_column] = year_of(cfg.year_source)
    out = df.withColumns(exprs) if exprs else df
    if cfg.keep_columns:
        out = out.select(*cfg.keep_columns)
    # dropDuplicates → partial+final HashAggregate; spillable, scales.
    return out.dropDuplicates()


def gold_fanout(
    df: DataFrame,
    derived: dict[str, Column],
    branches: dict[str, Column | None],
    branch_select: dict[str, list[str]] | None = None,
) -> dict[str, DataFrame]:
    """Silver → gold: derive columns once, fan out N filtered views.

    Reference entry point 3 (tasks/gold.py:36-59) derives
    ``local_completo``/``acordo_recurso`` and writes 4 outputs — and the
    DAG runs that whole function 4× (dag_main.py:62-77), a 4× redundancy.
    Here the enriched frame is built ONCE; each branch is a filter/projection
    of it. Caller decides whether to `.cache()` the enriched frame (worth
    it when branches materialize separately; unnecessary when they fuse
    into one job via unionByName).

    *branches* maps output name → filter predicate (None = no filter);
    *branch_select* optionally projects each branch.
    """
    enriched = df.withColumns(derived) if derived else df
    outputs: dict[str, DataFrame] = {}
    for name, predicate in branches.items():
        branch = enriched if predicate is None else enriched.filter(predicate)
        if branch_select and name in branch_select:
            branch = branch.select(*branch_select[name])
        outputs[name] = branch.dropDuplicates()
    return outputs


#: Column lists for the acordos-shaped fixture (FIXTURES.md §A),
#: mirroring the reference's hard-coded lists.
ACORDOS_CONFIG = MedallionConfig(
    date_columns=["data_de_celebração", "vigência"],
    truncate_columns=["título"],
    default_columns=[
        "continente",
        "região",
        "local_de_assinatura",
        "tipo_de_acordo",
        "objetivo",
        "recursos",
        "tipo_de_documento",
        "parceiro",
    ],
    text_columns=[
        "parceiro",
        "tipo_de_parceiro",
        "continente",
        "região",
        "local_de_assinatura",
        "tipo_de_acordo",
        "recursos",
        "tipo_de_documento",
    ],
    year_source="data_de_celebração",
    keep_columns=[
        "parceiro",
        "tipo_de_parceiro",
        "continente",
        "região",
        "local_de_assinatura",
        "tipo_de_acordo",
        "título",
        "objetivo",
        "recursos",
        "tipo_de_documento",
        "ano",
    ],
)


def acordos_gold_outputs(silver: DataFrame) -> dict[str, DataFrame]:
    """The reference's four gold outputs (tasks/gold.py:37-51), computed
    in one pass over the silver frame."""
    from etl_acordos_spark.functions.cleaning import concat_sep

    derived = {
        "local_completo": concat_sep(
            ["continente", "região", "local_de_assinatura"], " > "
        ),
        "acordo_recurso": concat_sep(["tipo_de_acordo", "recursos"], " - "),
    }
    hier_cols = ["local_completo", "acordo_recurso"]
    return gold_fanout(
        silver,
        derived,
        branches={
            "acordos": None,
            "hier": None,
            "pais": F.col("tipo_de_parceiro") == "País",
            "org": F.col("tipo_de_parceiro") == "Organização",
        },
        branch_select={
            "acordos": ACORDOS_CONFIG.keep_columns or [],
            "hier": hier_cols,
            "pais": hier_cols,
            "org": hier_cols,
        },
    )
