"""Query registry plumbing shared by all query modules."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_acordos_spark.sources.parquet_io import read_parquet


@dataclass(frozen=True)
class QueryDef:
    """A declared operator demonstration: Spark plan + DuckDB oracle.

    ``oracle`` is ``None`` for ops whose semantics aren't
    ANSI-SQL-expressible (sinks with side effects, LSH, streaming) — the
    driver then records a weaker rows-only check.
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None


_SHIPPED_CONTEXTS: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make `etl_acordos_spark` importable inside executor Python
    workers regardless of the driver process's cwd.

    The driver harness imports ``__spark_entry__`` by path, so the
    *driver* always resolves the package — but local-mode Python workers
    inherit the driver's cwd, not its ``sys.path``, so any operator that
    pickles a package function (pandas UDFs, mapInPandas) dies with
    ModuleNotFoundError when the harness launches from another
    directory. Shipping the package archive via ``addPyFile`` is also
    exactly what a real 1000-executor deployment does (``--py-files``),
    so the sandbox path and the cluster path are the same code.

    The zip is rebuilt only when a module mtime moves; re-adding the
    same path to the same context is a Spark no-op, and the context
    guard keeps the common case to one set lookup.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_CONTEXTS:
        return
    import tempfile
    import zipfile

    import etl_acordos_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    stamp = max(
        int(os.stat(os.path.join(root, f)).st_mtime)
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    zip_path = os.path.join(
        tempfile.gettempdir(), f"etl_acordos_spark_{stamp}.zip"
    )
    if not os.path.exists(zip_path):
        # unique tmp name: two processes racing on the same mtime stamp
        # must not interleave writes before the atomic os.replace
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "etl_acordos_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    _SHIPPED_CONTEXTS.add(app_id)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing its nano-precision timestamps.

    The testdata writes ``ts`` as parquet TIMESTAMP(NANOS) which Spark
    rejects by default; read the raw int64 nanos and convert to
    micro-precision TIMESTAMP_NTZ (integer `div`, not float division —
    nanos exceed double's 2^53 exact-integer range).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = t(spark, sf_dir, "events")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def scratch_dir() -> str:
    """Writable scratch space for sink demonstrations."""
    path = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/spark_graft_scratch")
    os.makedirs(path, exist_ok=True)
    return path


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


def driver_green_keys(oracle_keys: set[str] | None = None) -> set[str]:
    """Keys that already have a verified row in ANY committed
    ``CORRECTNESS_r*.json`` at the repo root — either a full
    count+schema+hash match, or the rows-only check for keys that
    declare no oracle. Keys whose only rows are errors (e.g. a
    canonicalizer crash) or empty rows-only results (the driver expects
    rows > 0) stay un-green so they re-enter the window.

    *oracle_keys* — the keys that CURRENTLY declare an oracle. When
    given, a historical rows-only row no longer counts as green for
    them: a key promoted from rows-only to a full SQL oracle re-enters
    the verification window until it earns a hash row.
    """
    import glob
    import json

    root = _repo_root()
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            full = row.get("hash_match") is True
            rows_only = (
                row.get("err") == "no_oracle"
                and (row.get("spark_rows") or 0) > 0
                and not (oracle_keys is not None and key in oracle_keys)
            )
            if full or rows_only:
                green.add(key)
    return green


def rotate_unchecked_first(
    keys: list[str],
    hoist: tuple[str, ...] = ("ext_approx", "flagship"),
) -> list[str]:
    """Order *keys* so never-driver-verified ones come first, then
    keys whose implementation changed since their last green round.

    The driver's per-round CORRECTNESS check caps at the first 50
    registry keys, so the order IS the verification schedule. Buckets,
    front to back:

    1. *hoist* keys while unchecked (previously-ERR repairs / flagship);
    2. never-green keys — no green row in any committed
       CORRECTNESS_r*.json (see `driver_green_keys`); a key promoted
       from rows-only to a full oracle re-enters here;
    3. green keys whose chased source *segments* differ from the
       committed verification manifest (directly edited since their
       last driver check — the `ext_rfm` round-6 hole this closes);
    4. green keys with stale/missing file-level deps in the manifest
       (conservative invalidation);
    5. stable green keys, in canonical module order (still guarded
       every round by tests/test_oracle_parity.py).

    Buckets 3–4 come from `manifest.classify_changed`, which compares
    static per-key fingerprints of the worktree against
    ``verification_manifest.json`` (refreshed each round from the
    driver-verified commit). A missing manifest degrades to the pure
    never-verified rotation.
    """
    oracle_keys = {
        name for name, qd in all_queries().items() if qd.oracle is not None
    }
    oracle_keys.add("flagship")
    green = driver_green_keys(oracle_keys)
    try:
        # import inside the guard: a broken manifest module must degrade
        # to the pure never-verified rotation, not fail the driver import
        from etl_acordos_spark.queries.manifest import classify_changed

        seg_changed, dep_changed = classify_changed(keys)
    except Exception as exc:  # never let rotation break the driver's import
        # ... but never silently either: an invisible fingerprint-chaser
        # bug would regress rotation to shipping changed keys unverified
        import warnings

        warnings.warn(
            f"rotate_unchecked_first: classify_changed failed ({exc!r}); "
            "falling back to the pure never-verified rotation",
            stacklevel=2,
        )
        seg_changed, dep_changed = set(), set()
    front = [k for k in hoist if k in keys and k not in green]
    unchecked = [k for k in keys if k not in green and k not in front]
    edited = [
        k for k in keys if k in green and k in seg_changed and k not in front
    ]
    stale = [
        k
        for k in keys
        if k in green and k in dep_changed and k not in seg_changed and k not in front
    ]
    moved = set(front) | set(edited) | set(stale)
    checked = [k for k in keys if k in green and k not in moved]
    return front + unchecked + edited + stale + checked


def all_queries() -> dict[str, QueryDef]:
    """Merge every query module's registry (import here to avoid
    cycles), canonical module order llm → streaming → extensibility →
    core → relational → pipeline. ``__spark_entry__.queries()`` applies
    `rotate_unchecked_first` on top of this order (plus the flagship),
    so the driver's 50-key window always lands on never-verified keys.
    """
    from etl_acordos_spark.queries import (
        core,
        extensibility,
        llm,
        pipeline,
        relational,
        streaming,
    )

    merged: dict[str, QueryDef] = {}
    for mod in (llm, streaming, extensibility, core, relational, pipeline):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query keys: {overlap}")
        merged.update(mod.QUERIES)
    return merged
