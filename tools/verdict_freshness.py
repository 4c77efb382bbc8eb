"""Per-entry verdict freshness: which registry entries' implementations
changed since their last green driver verdict.

The driver scores the first 50 ``queries()`` entries per round
(CORRECTNESS_r{N}.json); an entry whose code changes AFTER its last green
verdict carries a verdict describing code that no longer exists —
`embedding_cosine_dup` sat like that from r2 to r5 (VERDICT r5 "weak").
This tool closes the loop mechanically, at FUNCTION granularity (module
granularity over-approximates: one shared-helper fix would flag every
entry in the module and overflow the 50-entry scoring window):

1. Each registry entry resolves to its implementing function via
   ``callable.__module__`` / ``__name__`` (the registry lambdas map to
   their ``table_functions`` targets explicitly, via LAMBDA_IMPL).
2. The entry's *fingerprint* is an md5 over the ast.dump of that function
   plus every module-level function it transitively references — within
   the module and across ``etl_schema_spark``-relative imports — plus any
   referenced module-level constants. Docstrings are stripped, so a
   comment/doc edit does not force a rotation; a constant bump (e.g.
   MINHASH_SEEDS) does, because it changes results.
3. The fingerprint at HEAD is compared against the fingerprint at the
   round-boundary commit of the entry's latest green verdict ("round N:
   verdict/advice/correctness/bench" commits add only verdict artifacts,
   so their trees ARE the scored trees).

Output (JSON on stdout): {entry: {"round": N|null, "fresh": bool}} where
fresh=False means changed-since-verdict (or never scored).
tests/test_plan_audit.py asserts every non-fresh entry sorts inside the
scored-50 window.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import json
import os
import subprocess
import sys
from functools import lru_cache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_schema_spark"

# Scan/session plumbing excluded from the closure: a change there touches
# ALL 172 entries at once — un-rotatable through a 50-slot window and
# covered instead by the full local DuckDB gate every round
# (tools/check_correctness.py runs all entries, not a rotation).
INFRA_MODULES = {f"{PKG}.sources.catalog", f"{PKG}.session"}

# Registry lambdas that wrap a named implementation elsewhere.
_PDF = (f"{PKG}.functions.table_functions", "metric_pdf")
_GEOMEAN = (f"{PKG}.functions.table_functions", "metric_geomean")
LAMBDA_IMPL = {
    "fn_pdf_upload_2021": _PDF,
    "fn_geomean_download_complete": _GEOMEAN,
    "log_pdf_cdf": _PDF,
    "geomean_by_type": _GEOMEAN,
}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout


def round_commits() -> dict[int, str]:
    """round number -> boundary commit sha (the tree the driver scored)."""
    out = _git("log", "--format=%H %s")
    rc = {}
    for line in out.splitlines():
        sha, _, subj = line.partition(" ")
        if subj.startswith("round ") and ": verdict" in subj:
            try:
                rc[int(subj.split()[1].rstrip(":"))] = sha
            except ValueError:
                continue
    return rc


def latest_green_verdict() -> dict[str, int]:
    """entry -> round of its latest green (hash or rows-only pass) verdict."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        for key, rec in json.load(open(path)).items():
            ok = rec.get("hash_match") is True or (
                rec.get("hash_match") is None
                and rec.get("rows_match") is True
                and rec.get("err") is None
            )
            if ok:
                latest[key] = max(rnd, latest.get(key, 0))
    return latest


def module_path(mod: str) -> str:
    return mod.replace(".", "/") + ".py"


@lru_cache(maxsize=None)
def _module_source(mod: str, commit: str | None) -> str | None:
    rel = module_path(mod)
    if commit is None:
        p = os.path.join(REPO, rel)
        return open(p).read() if os.path.exists(p) else None
    try:
        return _git("show", f"{commit}:{rel}")
    except subprocess.CalledProcessError:
        return None


class _ModuleIndex:
    """Module-level functions, constants, and package-internal imports."""

    def __init__(self, mod: str, source: str):
        self.mod = mod
        self.funcs: dict[str, ast.AST] = {}
        self.consts: dict[str, ast.AST] = {}
        # name as used in this module -> (other module, name there)
        self.imports: dict[str, tuple[str, str]] = {}
        tree = ast.parse(source)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                self.funcs[node.name] = node
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        self.consts[t.name if hasattr(t, "name") else t.id] = node
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                self.consts[node.target.id] = node
            elif isinstance(node, ast.ImportFrom):
                src = self._resolve_from(node)
                if src:
                    for alias in node.names:
                        self.imports[alias.asname or alias.name] = (src, alias.name)
        # FUNCTION-LOCAL package imports (`from .distributed import x`
        # inside an operator body — the deferred-import idiom most
        # operators use) must join the closure too: r12 found that a
        # helper reached ONLY through local imports (grouped_running_sum,
        # memo_pin) could change without flagging a single consumer —
        # the exact staleness class this tool exists to catch. Top-level
        # imports win on a name collision (setdefault), and module-level
        # funcs/consts still take precedence at resolution time.
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                src = self._resolve_from(node)
                if src:
                    for alias in node.names:
                        self.imports.setdefault(
                            alias.asname or alias.name, (src, alias.name)
                        )

    def _resolve_from(self, node: ast.ImportFrom) -> str | None:
        if node.level:  # relative import: resolve against this module
            parts = self.mod.split(".")[: -node.level]
            base = ".".join(parts + ([node.module] if node.module else []))
            return base
        if node.module and node.module.startswith(PKG):
            return node.module
        return None


@lru_cache(maxsize=None)
def _index(mod: str, commit: str | None) -> _ModuleIndex | None:
    src = _module_source(mod, commit)
    return None if src is None else _ModuleIndex(mod, src)


def _strip_docstring(node: ast.AST) -> ast.AST:
    if (
        isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    ):
        import copy

        node = copy.deepcopy(node)
        node.body = node.body[1:] or [ast.Pass()]
    return node


def _names_in(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def fingerprint(
    mod: str, func: str, commit: str | None, own_only: bool = False
) -> str | None:
    """md5 over the ast dumps of func (+ its `<func>_oracle` twin when one
    exists — a changed oracle re-defines what the driver compares) +,
    unless own_only, transitive in-package helpers and referenced
    module-level constants. None if the function is absent."""
    start = _index(mod, commit)
    if start is None or func not in start.funcs:
        return None
    seen: set[tuple[str, str]] = set()
    const_seen: set[tuple[str, str]] = set()
    stack = [(mod, func)]
    if f"{func}_oracle" in start.funcs:
        stack.append((mod, f"{func}_oracle"))
    roots = {f for _, f in stack}
    parts: list[tuple[str, str]] = []
    while stack:
        m, f = stack.pop()
        if (m, f) in seen or m in INFRA_MODULES:
            continue
        seen.add((m, f))
        idx = _index(m, commit)
        if idx is None or f not in idx.funcs:
            # imported name vanished at this commit -> mark distinctly
            parts.append((f"{m}.{f}", "<absent>"))
            continue
        node = idx.funcs[f]
        parts.append((f"{m}.{f}", ast.dump(_strip_docstring(node))))
        if own_only:
            continue
        for name in _names_in(node):
            if name in idx.funcs and (m, name) not in seen:
                stack.append((m, name))
            elif name in idx.consts and (m, name) not in const_seen:
                const_seen.add((m, name))
                parts.append((f"{m}:{name}", ast.dump(idx.consts[name])))
            elif name in idx.imports:
                tgt_mod, tgt_name = idx.imports[name]
                tgt_idx = _index(tgt_mod, commit)
                if tgt_idx is not None and tgt_name in tgt_idx.funcs:
                    stack.append((tgt_mod, tgt_name))
                elif tgt_idx is not None and tgt_name in tgt_idx.consts:
                    key = (tgt_mod, tgt_name)
                    if key not in const_seen:
                        const_seen.add(key)
                        parts.append(
                            (f"{tgt_mod}:{tgt_name}", ast.dump(tgt_idx.consts[tgt_name]))
                        )
    blob = "\n".join(f"{k}\n{v}" for k, v in sorted(parts))
    return hashlib.md5(blob.encode()).hexdigest()


def entry_targets() -> dict[str, tuple[str, str]]:
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    targets = {}
    for name, fn in e.queries().items():
        if name in LAMBDA_IMPL:
            targets[name] = LAMBDA_IMPL[name]
        else:
            targets[name] = (fn.__module__, fn.__name__)
    return targets


def freshness() -> dict[str, dict]:
    rc = round_commits()
    verdicts = latest_green_verdict()
    out = {}
    for name, (mod, func) in entry_targets().items():
        rnd = verdicts.get(name)
        if rnd is None or rnd not in rc:
            out[name] = {"round": rnd, "fresh": False, "reason": "never scored"}
            continue
        now = fingerprint(mod, func, None)
        then = fingerprint(mod, func, rc[rnd])
        fresh = now is not None and now == then
        own_now = fingerprint(mod, func, None, own_only=True)
        own_then = fingerprint(mod, func, rc[rnd], own_only=True)
        own_changed = not (own_now is not None and own_now == own_then)
        out[name] = {
            "round": rnd,
            "fresh": fresh,
            "reason": None
            if fresh
            else ("own function changed" if own_changed else "helper changed"),
        }
    return out


if __name__ == "__main__":
    print(json.dumps(freshness(), indent=1, sort_keys=True))
