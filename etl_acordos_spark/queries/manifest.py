"""Change-aware verification manifest.

The driver's per-round CORRECTNESS window is 50 keys, so the registry
order IS the verification schedule (`rotate_unchecked_first`). Before
this module, a key that went driver-green in round N and was then
*rewritten* in round N+1 could rotate to the back of the queue and ship
unverified — exactly what happened to ``ext_rfm`` in round 6 (rewritten
to the prefix-scan ranking after its r5 green, missed the r6 window).

This module makes the rotation change-aware with *static* per-key
source fingerprints:

- For each registry key, parse the defining queries module with ``ast``
  and chase the ``QueryDef(...)`` call's references — the query
  function, the oracle constant, every package helper the function
  body touches (including function-local
  ``from etl_acordos_spark...`` imports), transitively across modules.
- The fingerprint hashes the exact source *segments* of those
  definitions, so an edit to ``operators/relational.py:rfm_segments``
  invalidates ``ext_rfm`` (and only keys that reach ``rfm_segments``),
  while unrelated keys in the same 1,800-line module stay green.
- Anything the static chase can't resolve precisely (e.g. a package
  module imported as a module object) degrades to a whole-file
  dependency hash — conservative over-invalidation, never silent
  under-invalidation.

Fingerprints are computed through a *file provider* so the same code
runs against the worktree (rotation time) and against any historical
commit via ``git show`` (manifest refresh / bootstrap) without ever
importing old code.

The committed manifest (``verification_manifest.json`` next to this
file) records each key's fingerprint as of the commit the driver last
verified it on. ``rotate_unchecked_first`` re-fronts any key whose
current fingerprint differs. Refresh at the start of each round with::

    python -m etl_acordos_spark.queries.manifest refresh

A committed ``CORRECTNESS_sim.json`` at the repo root is read by the
same refresh: the verify harness's ``driver_sim.py --out`` writes it
from a run of the driver contract (same session, oracles and hash) on
a clean worktree and records the commit it ran on. Its green keys are
fingerprinted at that commit, so an entry then means "verified at the
commit it was fingerprinted on", by the driver or by that local run.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import subprocess
from collections.abc import Callable

Provider = Callable[[str], "str | None"]

_PKG = "etl_acordos_spark"
# Modules whose QUERIES dicts define the registry (canonical order —
# mirrors queries/base.py:all_queries).
QUERY_MODULES = (
    f"{_PKG}/queries/llm.py",
    f"{_PKG}/queries/streaming.py",
    f"{_PKG}/queries/extensibility.py",
    f"{_PKG}/queries/core.py",
    f"{_PKG}/queries/relational.py",
    f"{_PKG}/queries/pipeline.py",
)

MANIFEST_PATH = os.path.join(os.path.dirname(__file__), "verification_manifest.json")
SIM_ARTIFACT = "CORRECTNESS_sim.json"


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def worktree_provider(root: str | None = None) -> Provider:
    base = root or repo_root()

    def read(relpath: str) -> str | None:
        try:
            with open(os.path.join(base, relpath), encoding="utf-8") as f:
                return f.read()
        except OSError:
            return None

    return read


def git_provider(commit: str, root: str | None = None) -> Provider:
    base = root or repo_root()

    def read(relpath: str) -> str | None:
        proc = subprocess.run(
            ["git", "-C", base, "show", f"{commit}:{relpath}"],
            capture_output=True,
            text=True,
        )
        return proc.stdout if proc.returncode == 0 else None

    return read


def _module_to_relpath(modname: str) -> str | None:
    """``etl_acordos_spark.operators.dedup`` → package-relative .py path."""
    if modname != _PKG and not modname.startswith(_PKG + "."):
        return None
    return modname.replace(".", "/") + ".py"


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


class _Module:
    """Parsed view of one package module: top-level symbol table plus
    an import map, both name → how-to-chase."""

    def __init__(self, relpath: str, source: str):
        self.relpath = relpath
        self.source = source
        self._lines = source.splitlines(keepends=True)
        self.tree = ast.parse(source)
        # name -> top-level defining node (last binding wins, matching
        # runtime semantics for rebinds)
        self.symbols: dict[str, ast.stmt] = {}
        # name -> (package module relpath, symbol-in-that-module | None)
        self.imports: dict[str, tuple[str, str | None]] = {}
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.symbols[node.name] = node
            elif isinstance(node, ast.Assign):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        self.symbols[tgt.id] = node
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                self.symbols[node.target.id] = node
            elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
                rel = _module_to_relpath(node.module)
                if rel:
                    for alias in node.names:
                        self.imports[alias.asname or alias.name] = (rel, alias.name)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    rel = _module_to_relpath(alias.name)
                    if rel:
                        # module-object import: degrade to file dep
                        self.imports[alias.asname or alias.name.split(".")[0]] = (
                            rel,
                            None,
                        )

    def _extract(self, node: ast.AST) -> str | None:
        # ast.get_source_segment re-splits the whole source per call;
        # with hundreds of segment pulls over 1,800-line modules that
        # dominated fingerprint time, so slice pre-split lines instead.
        lineno = getattr(node, "lineno", None)
        end_lineno = getattr(node, "end_lineno", None)
        if lineno is None or end_lineno is None:
            return None
        lines = self._lines[lineno - 1 : end_lineno]
        if not lines:
            return None
        lines = list(lines)
        lines[-1] = lines[-1][: node.end_col_offset]
        lines[0] = lines[0][node.col_offset :]
        return "".join(lines)

    def segment(self, node: ast.AST) -> str:
        seg = self._extract(node)
        if seg is None:  # pragma: no cover - only on pathological sources
            seg = ast.dump(node)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            decos = [ast.get_source_segment(self.source, d) or "" for d in node.decorator_list]
            seg = "\n".join(["@" + d for d in decos] + [seg])
        return seg


class _Fingerprinter:
    def __init__(self, provider: Provider):
        self.provider = provider
        self._modules: dict[str, _Module | None] = {}

    def module(self, relpath: str) -> _Module | None:
        if relpath not in self._modules:
            src = self.provider(relpath)
            if src is None and relpath.endswith(".py"):
                # package __init__ fallback for dotted module dirs
                alt = relpath[: -len(".py")] + "/__init__.py"
                src = self.provider(alt)
                relsrc = alt if src is not None else relpath
            else:
                relsrc = relpath
            try:
                self._modules[relpath] = _Module(relsrc, src) if src is not None else None
            except SyntaxError:
                self._modules[relpath] = None
        return self._modules[relpath]

    # -- chasing ----------------------------------------------------

    def _chase_names(
        self,
        mod: _Module,
        names: set[str],
        segs: set[tuple[str, str, str]],
        filedeps: set[str],
        visited: set[tuple[str, str]],
    ) -> None:
        for name in sorted(names):
            key = (mod.relpath, name)
            if key in visited:
                continue
            visited.add(key)
            if name in mod.imports:
                target_rel, symbol = mod.imports[name]
                if symbol is None:
                    filedeps.add(target_rel)
                    continue
                target = self.module(target_rel)
                if target is None:
                    filedeps.add(target_rel)
                elif symbol in target.symbols:
                    self._chase_node(target, symbol, target.symbols[symbol], segs, filedeps, visited)
                elif symbol in target.imports:
                    self._chase_names(target, {symbol}, segs, filedeps, visited)
                else:
                    # re-exported / dynamic: whole-file dep
                    filedeps.add(target_rel)
            elif name in mod.symbols:
                self._chase_node(mod, name, mod.symbols[name], segs, filedeps, visited)
            # else: builtin, local, or third-party — out of scope

    def _chase_node(
        self,
        mod: _Module,
        anchor: str,
        node: ast.stmt,
        segs: set[tuple[str, str, str]],
        filedeps: set[str],
        visited: set[tuple[str, str]],
    ) -> None:
        segs.add((mod.relpath, anchor, _sha(mod.segment(node))))
        names: set[str] = set()
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                names.add(sub.id)
            elif isinstance(sub, ast.ImportFrom) and sub.module and sub.level == 0:
                # function-local package import (the dominant style in
                # queries/*.py bodies). Guard with `visited` like every
                # other chase — mutually-local-importing functions would
                # otherwise recurse without bound.
                rel = _module_to_relpath(sub.module)
                if rel:
                    target = self.module(rel)
                    for alias in sub.names:
                        key = (rel, alias.name)
                        if key in visited:
                            continue
                        visited.add(key)
                        if target is None:
                            filedeps.add(rel)
                        elif alias.name in target.symbols:
                            self._chase_node(
                                target, alias.name, target.symbols[alias.name], segs, filedeps, visited
                            )
                        elif alias.name in target.imports:
                            self._chase_names(target, {alias.name}, segs, filedeps, visited)
                        else:
                            filedeps.add(rel)
            elif isinstance(sub, ast.Import):
                for alias in sub.names:
                    rel = _module_to_relpath(alias.name)
                    if rel:
                        filedeps.add(rel)
        self._chase_names(mod, names, segs, filedeps, visited)

    def _oracle_value_node(self, mod: _Module, node: ast.expr) -> ast.AST:
        """For ``_ORACLES["key"]`` with a literal dict assign, narrow to
        that one entry's value segment so editing a sibling oracle does
        not invalidate this key."""
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Name)
            and isinstance(node.slice, ast.Constant)
            and node.value.id in mod.symbols
        ):
            assign = mod.symbols[node.value.id]
            value = getattr(assign, "value", None)
            if isinstance(value, ast.Dict):
                for k, v in zip(value.keys, value.values):
                    if isinstance(k, ast.Constant) and k.value == node.slice.value:
                        return v
        return node

    # -- public -----------------------------------------------------

    def registry_entries(self) -> dict[str, tuple[_Module, ast.expr]]:
        entries: dict[str, tuple[_Module, ast.expr]] = {}
        for relpath in QUERY_MODULES:
            mod = self.module(relpath)
            if mod is None:
                continue
            queries = mod.symbols.get("QUERIES")
            value = getattr(queries, "value", None)
            if not isinstance(value, ast.Dict):
                continue
            for k, v in zip(value.keys, value.values):
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    entries[k.value] = (mod, v)
        return entries

    def fingerprint(self, mod: _Module, entry: ast.expr) -> dict[str, str]:
        segs: set[tuple[str, str, str]] = set()
        filedeps: set[str] = set()
        visited: set[tuple[str, str]] = set()
        # the QueryDef(...) call itself (captures arg swaps / inline oracles)
        segs.add((mod.relpath, "<entry>", _sha(mod.segment(entry))))
        names: set[str] = set()
        for sub in ast.walk(entry):
            if isinstance(sub, ast.Name):
                names.add(sub.id)
        # narrow dict-subscript oracles to the single entry — but still
        # chase every Name inside the narrowed value (an oracle built as
        # _DUP_GRAPH_CTES + "..." must invalidate when the shared CTE
        # constant changes; hashing only the segment text would not)
        if isinstance(entry, ast.Call):
            for arg in list(entry.args) + [kw.value for kw in entry.keywords]:
                narrowed = self._oracle_value_node(mod, arg)
                if narrowed is not arg:
                    segs.add((mod.relpath, "<oracle>", _sha(mod.segment(narrowed))))
                    names.discard(arg.value.id)  # type: ignore[union-attr]
                    for sub in ast.walk(narrowed):
                        if isinstance(sub, ast.Name):
                            names.add(sub.id)
        self._chase_names(mod, names, segs, filedeps, visited)
        seg_hash = _sha("\n".join(f"{m}:{a}:{h}" for m, a, h in sorted(segs)))
        dep_parts = []
        for rel in sorted(filedeps):
            src = self.provider(rel)
            dep_parts.append(f"{rel}:{_sha(src) if src is not None else 'missing'}")
        return {"seg": seg_hash, "dep": _sha("\n".join(dep_parts))}


def compute_fingerprints(provider: Provider | None = None) -> dict[str, dict[str, str]]:
    fp = _Fingerprinter(provider or worktree_provider())
    out: dict[str, dict[str, str]] = {}
    for key, (mod, entry) in fp.registry_entries().items():
        out[key] = fp.fingerprint(mod, entry)
    return out


# -- worktree cache (rotation calls this on every queries() build) ----

_WT_CACHE: tuple[tuple, dict[str, dict[str, str]]] | None = None


def _worktree_stamp(root: str) -> tuple:
    stamps = []
    for dirpath, _, files in os.walk(os.path.join(root, _PKG)):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                st = os.stat(full)
                stamps.append((os.path.relpath(full, root), st.st_mtime_ns, st.st_size))
    return tuple(sorted(stamps))


def current_fingerprints() -> dict[str, dict[str, str]]:
    """Worktree fingerprints, cached on package-file mtimes."""
    global _WT_CACHE
    root = repo_root()
    stamp = _worktree_stamp(root)
    if _WT_CACHE is not None and _WT_CACHE[0] == stamp:
        return _WT_CACHE[1]
    result = compute_fingerprints(worktree_provider(root))
    _WT_CACHE = (stamp, result)
    return result


# -- manifest I/O -----------------------------------------------------


def _load_json(path: str) -> dict | None:
    try:
        with open(path, encoding="utf-8") as f:
            data = json.load(f)
    except (OSError, ValueError):
        return None
    return data if isinstance(data, dict) else None


def load_manifest() -> dict[str, dict[str, str]] | None:
    return _load_json(MANIFEST_PATH)


def save_manifest(manifest: dict[str, dict[str, str]]) -> None:
    with open(MANIFEST_PATH, "w", encoding="utf-8") as f:
        json.dump(dict(sorted(manifest.items())), f, indent=1, sort_keys=True)
        f.write("\n")


def classify_changed(keys: list[str]) -> tuple[set[str], set[str]]:
    """Split *keys* into (seg_changed, dep_changed_or_unknown) vs the
    committed manifest. Keys present and matching in the manifest are in
    neither set. A missing/unreadable manifest marks nothing changed
    (falls back to the pure never-verified rotation)."""
    manifest = load_manifest()
    if not manifest:
        return set(), set()
    current = current_fingerprints()
    seg_changed: set[str] = set()
    dep_changed: set[str] = set()
    for key in keys:
        cur = current.get(key)
        rec = manifest.get(key)
        if cur is None:
            continue  # not a registry key (e.g. flagship) — no signal
        if rec is None:
            dep_changed.add(key)
        elif rec.get("seg") != cur["seg"]:
            seg_changed.add(key)
        elif rec.get("dep") != cur["dep"]:
            dep_changed.add(key)
    return seg_changed, dep_changed


# -- refresh / bootstrap ----------------------------------------------


def _green_keys_in(path: str) -> set[str]:
    return _green_rows(_load_json(path) or {})


def _green_rows(data: dict) -> set[str]:
    green = set()
    for key, row in data.items():
        if not isinstance(row, dict):
            continue
        if row.get("hash_match") is True or (
            row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0
        ):
            green.add(key)
    return green


def _verified_commit_for(path: str, root: str) -> str | None:
    """The commit the driver verified: parent of the commit that last
    touched the CORRECTNESS file (the driver commits artifacts on top of
    the round's final build commit)."""
    rel = os.path.relpath(path, root)
    proc = subprocess.run(
        ["git", "-C", root, "log", "-1", "--format=%H", "--", rel],
        capture_output=True,
        text=True,
    )
    commit = proc.stdout.strip()
    if not commit:
        return None
    parent = subprocess.run(
        ["git", "-C", root, "rev-parse", f"{commit}^"],
        capture_output=True,
        text=True,
    ).stdout.strip()
    return parent or None


def _git_ok(root: str, *args: str) -> bool:
    return subprocess.run(
        ["git", "-C", root, *args], capture_output=True
    ).returncode == 0


def refresh(all_rounds: bool = False) -> dict[str, dict[str, str]]:
    """Update manifest entries for keys green in committed
    CORRECTNESS_r*.json files, each fingerprinted at the commit the
    driver actually verified, and for keys green in ``SIM_ARTIFACT``,
    fingerprinted at the commit it records; applied in history order,
    so a key's newest verification wins. With *all_rounds* (bootstrap)
    every round is replayed oldest-first; otherwise only the latest
    round."""
    import glob

    root = repo_root()
    manifest = load_manifest() or {}
    paths = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    if not all_rounds:
        paths = paths[-1:]
    sources: list[tuple[str, set[str]]] = []
    for path in paths:
        commit = _verified_commit_for(path, root)
        if commit is None:
            # running refresh before the CORRECTNESS file is committed
            # would silently skip the round's new greens — make it loud
            import warnings

            warnings.warn(
                f"refresh: {os.path.basename(path)} has no committing "
                "commit (untracked/uncommitted?) — its green keys were "
                "NOT fingerprinted; commit the artifact and re-run",
                stacklevel=2,
            )
            continue
        sources.append((commit, _green_keys_in(path)))
    sim = _load_json(os.path.join(root, SIM_ARTIFACT))
    if sim is not None:
        commit = sim.get("commit")
        if isinstance(commit, str) and _git_ok(
            root, "cat-file", "-e", f"{commit}^{{commit}}"
        ):
            # in history order, so a later driver round supersedes it
            at = next(
                (
                    i
                    for i, (c, _) in enumerate(sources)
                    if c != commit
                    and _git_ok(root, "merge-base", "--is-ancestor", commit, c)
                ),
                len(sources),
            )
            sources.insert(at, (commit, _green_rows(sim.get("rows") or {})))
        else:
            import warnings

            warnings.warn(
                f"refresh: {SIM_ARTIFACT} names commit {commit!r}, which "
                "this repository does not have — its green keys were NOT "
                "fingerprinted",
                stacklevel=2,
            )
    for commit, green in sources:
        fps = compute_fingerprints(git_provider(commit, root))
        for key in green:
            if key in fps:
                manifest[key] = fps[key]
    save_manifest(manifest)
    return manifest


if __name__ == "__main__":
    import sys

    mode = sys.argv[1] if len(sys.argv) > 1 else "refresh"
    if mode == "bootstrap":
        m = refresh(all_rounds=True)
    elif mode == "refresh":
        m = refresh(all_rounds=False)
    else:
        raise SystemExit(f"usage: manifest.py [refresh|bootstrap], got {mode!r}")
    seg, dep = classify_changed(sorted(m))
    print(
        json.dumps(
            {
                "entries": len(m),
                "seg_changed": sorted(seg),
                "dep_changed": sorted(dep),
            }
        )
    )
