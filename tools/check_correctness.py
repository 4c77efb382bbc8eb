"""Local replica of the driver's t2 correctness gate, and the capture of
every entry's executed plan.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB against the same sf dir, then compares row count, sorted column
names, per-column Arrow types (both sides fetched as Arrow, so the
DuckDB-HUGEINT-vs-Spark-BIGINT class is caught), and an order-insensitive
value representation.

It runs them twice. The first pass is the driver's: registry order in one
session. The second runs each entry from an empty cache and fingerprints
its executed plan: the md5 of the final adaptive plan of every SQL
execution the entry started (its eager build jobs and the result query),
read from the session's SQL status store and normalised (see
``canonical``), with its oracle SQL. A full run over an sf0.01 dir
(the default) writes the map to FINGERPRINTS.json with a digest of the
sources it ran on, and renders PLANS.md from the same plans;
tools/verdict_freshness.py compares the map with the one at each entry's
verdict round.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import ast
import copy
import glob
import hashlib
import json
import math
import os
import re
import sys
import tempfile
import time
from datetime import date, datetime
from functools import lru_cache
from itertools import takewhile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return out


def canon_type(t) -> str:
    """Collapse an Arrow type to the equivalence class the driver hash
    respects: integer width matters (HUGEINT arrives as decimal128 and must
    NOT equal int64), but string flavor and timestamp unit/tz do not."""
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    # Integer width is driver-tolerated: round-1 queries whose Spark output
    # was int32 against an int64 oracle (rollup_revenue.lvl,
    # top_clients_per_type.rank, dedup_ngram_jaccard.common) all passed the
    # driver hash; only decimal128 (DuckDB HUGEINT) vs int64 failed.
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    return str(t)


def arrow_types(tbl) -> dict[str, str]:
    return {f.name: canon_type(f.type) for f in tbl.schema}


# -- executed-plan capture ---------------------------------------------------

PKG = "etl_schema_spark"

# Plan nodes whose text cannot show what runs: a Python worker's function
# body, or rows built on the driver. Entries with one fold an AST closure
# digest into the fingerprint: of the worker functions the nodes name
# (_WORKER), or of the implementing function when rows are local.
_OPAQUE = re.compile(r"Python|Pandas|InArrow|LocalTableScan")
_WORKER = re.compile(r"(?:Python|Pandas|InArrow)\w* \[?(\w+)\(")

# Run-to-run noise in a plan node's text: ids Spark numbers per process
# (expressions, lambda variables, common subexpressions, exchanges, RDDs),
# object hashes, random uuids, the random suffix of a temp dir, and a
# streaming batch's processing-time timestamp (epoch ms within a day of now).
_NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"(lambda \w+?|_common_expr)_\d+#"), r"\1#"),
    (re.compile(r"(<'[a-z]+)_\d+'"), r"\1'"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[\d+\] at "), "[] at "),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(rf"({re.escape(tempfile.gettempdir())}/[\w.-]*?)[a-z0-9_]{{8}}(?=/|\]|,|\s|$)"), r"\1<tmp>"),
    (
        re.compile(r"\b\d{13}\b"),
        lambda m: "<now>" if abs(int(m[0]) - time.time() * 1e3) < 864e5 else m[0],
    ),
]
# Nodes that follow AQE timing rather than the code (see ``canonical``).
_FOLDED = ("BroadcastQueryStage", "BroadcastExchange", "ReusedExchange")
_DOT_NODE = re.compile(r'\s*(\d+) \[id="node\d+" labelType="html" label=".*" tooltip="(.*)"\];\s*')
_DOT_EDGE = re.compile(r"\s*(\d+)->(\d+);\s*")


def last_execution(spark) -> int:
    """Id of the newest SQL execution in the status store (-1 if none)."""
    jss = spark._jsparkSession
    jss.sparkContext().listenerBus().waitUntilEmpty()
    store = jss.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def final_plans(spark, since: int) -> list[str]:
    """Plan graph (DOT text) of every SQL execution after id ``since``, in
    order, read only once each adaptive plan reports isFinalPlan=true."""
    jss = spark._jsparkSession
    store, bus = jss.sharedState().statusStore(), jss.sparkContext().listenerBus()
    no_metrics = spark._jvm.PythonUtils.toScalaMap(spark._jvm.java.util.HashMap())
    deadline = time.monotonic() + 60
    while True:
        bus.waitUntilEmpty()
        execs = store.executionsList()
        newest_first = (execs.apply(i).executionId() for i in reversed(range(execs.size())))
        ids = sorted(takewhile(lambda i: i > since, newest_first))
        plans = [store.planGraph(i).makeDotFile(no_metrics) for i in ids]
        # line 2 of a graph is its root node
        if not any("isFinalPlan=false" in p.split("\n", 2)[1] for p in plans):
            break
        if time.monotonic() > deadline:
            raise RuntimeError("an adaptive plan never reported isFinalPlan=true")
        time.sleep(0.1)
    assert not any("more fields" in p for p in plans), "a captured plan elides fields"
    return plans


def canonical(plan: str, fold: bool = True) -> list[str]:
    """A captured plan graph (the final plan, with a cached plan under each
    scan of it, and no query-stage or codegen ids) as indented node lines,
    "* " marking whole-stage codegen, noise removed. ``fold`` also removes
    what follows AQE timing or hash order, not the code:

    - which join side AQE broadcasts when both are small (the stage that
      finishes first), and so the exchanges the planner adds above it:
      broadcast exchanges, "Build" sides, and outside cached plans (whose
      layout their readers depend on) ENSURE_REQUIREMENTS exchanges and
      AQE's reads of them go; the set of their widths stays;
    - a locally read exchange of a join AQE made a broadcast join, kept
      or dropped by whether its stage had started;
    - exchange reuse: a reused subtree is printed again, aliases dropped;
    - RewriteDistinctAggregates' group numbering (a hash-map order over
      expression ids): a node over its ``gid`` column becomes its sorted
      tokens.
    """
    text, kids, cluster = {}, {}, False
    for line in plan.splitlines():
        if m := _DOT_NODE.fullmatch(line):
            node = m[2]
            for pat, rep in _NOISE:
                node = pat.sub(rep, node)
            if fold:
                node = re.sub(r"Build(Left|Right)", "Build", re.sub(r" AS \w+#", " AS #", node))
                if "gid#" in node:
                    node = " ".join(sorted(re.findall(r"\w+|[^\w\s]", node)))
            text[int(m[1])] = ("* " if cluster else "") + node.replace(REPO, "<repo>")
        elif m := _DOT_EDGE.fullmatch(line):
            kids.setdefault(int(m[2]), []).append(int(m[1]))
        else:
            cluster = "subgraph cluster" in line or (cluster and line.strip() != "}")
    out, done, widths = [], set(), set()

    def walk(i: int, level: int, in_pin: bool = False) -> None:
        name = text[i].lstrip("* ")
        planned = name.startswith("AQEShuffleRead") or (
            name.startswith("Exchange ") and "ENSURE_REQUIREMENTS" in name
        )
        if fold and (name.startswith(_FOLDED) or planned and not in_pin):
            widths.update(re.findall(r", (\d+)\), ENSURE_REQUIREMENTS", name))
            for c in kids.get(i, ()):
                walk(c, level, in_pin)
        elif fold and name == "AQEShuffleRead local":  # and its exchange
            for c in kids.get(i, ()):
                for g in kids.get(c, ()):
                    walk(g, level, in_pin)
        elif i in done and not fold:
            out.append("  " * level + "reuses " + text[i])
        else:
            done.add(i)
            out.append("  " * level + text[i])
            for c in kids.get(i, ()):
                walk(c, level + 1, in_pin or name.startswith("InMemoryTableScan"))

    children = {c for cs in kids.values() for c in cs}
    for root in sorted(set(text) - children):
        walk(root, 0)
    return out + [f"folded exchange widths {sorted(widths)}"] * bool(widths)


def fingerprint(plans: list[str], fn, oracle: str) -> str:
    """md5 of the canonical plans and the oracle SQL a verdict compared."""
    text = "\n\n".join("\n".join(canonical(p)) for p in plans)
    if _OPAQUE.search(text):
        workers = None if "LocalTableScan" in text else set(_WORKER.findall(text))
        text += "\n" + closure_digest(fn, workers)
    return hashlib.md5(f"{text}\n\n{oracle}".encode()).hexdigest()


def source_digest() -> str:
    """md5 over __spark_entry__.py and every etl_schema_spark/ source."""
    h = hashlib.md5()
    pkg = glob.glob(f"{PKG}/**/*.py", root_dir=REPO, recursive=True)
    for rel in ["__spark_entry__.py", *sorted(pkg)]:
        h.update(rel.encode())
        with open(os.path.join(REPO, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def plan_row(name: str, plans: list[str] | None) -> str:
    """PLANS.md row: node counts over the entry's final plans, each distinct
    cached body once (a pin's plan prints under every scan of it but runs
    once)."""
    if plans is None:
        return f"| {name} | ERROR | | | | |"
    seen, lines = set(), []
    for nodes in (canonical(p, fold=False) for p in plans):
        i = 0
        while i < len(nodes):
            lines.append(nodes[i])
            i, depth = i + 1, len(nodes[i]) - len(nodes[i].lstrip())
            if "InMemoryTableScan" in lines[-1]:
                j = i
                while j < len(nodes) and len(nodes[j]) - len(nodes[j].lstrip()) > depth:
                    j += 1
                body = "\n".join(x.strip() for x in nodes[i:j])
                i = j if body in seen else i
                seen.add(body)
    text = "\n".join(lines)
    tags = (("arrow", "ArrowEvalPython|MapInPandas"), ("row-udf(!)", "BatchEvalPython"))
    py = [t for t, pat in tags if re.search(pat, text)]
    pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", text) else "-"
    n_ex = len(re.findall(r"^\s*Exchange ", text, re.M))
    joins = f"{text.count('BroadcastHashJoin')} | {text.count('SortMergeJoin')}"
    return f"| {name} | {n_ex} | {joins} | {pushed} | {','.join(py) or '-'} |"


@lru_cache(maxsize=None)
def _index(mod: str):
    """(functions, constants, imports) of a package module, or None: its
    module-level defs and assignments by name, and its package imports
    (top-level ones first, then function-local) as name -> (module, name)."""
    path = os.path.join(REPO, mod.replace(".", "/") + ".py")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        tree = ast.parse(f.read())
    funcs = {n.name: n for n in tree.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
    consts = {}
    for n in tree.body:
        targets = n.targets if isinstance(n, ast.Assign) else [getattr(n, "target", None)]
        consts.update({t.id: n for t in targets if isinstance(t, ast.Name)})
    imports = {}
    for n in [*tree.body, *ast.walk(tree)]:
        if isinstance(n, ast.ImportFrom):
            src = n.module if (n.module or "").startswith(PKG) else None
            if n.level:  # relative import: resolve against this module
                src = ".".join(mod.split(".")[: -n.level] + ([n.module] if n.module else []))
            for a in n.names if src else ():
                imports.setdefault(a.asname or a.name, (src, a.name))
    return funcs, consts, imports


def _closure(roots: list) -> dict:
    """(module, name) -> AST node (None if absent) of ``roots`` and every
    module-level function and constant they reach in the package."""
    out, stack = {}, list(roots)
    while stack:
        m, name, node = stack.pop()
        if (m, name) in out:
            continue
        out[(m, name)] = node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        funcs, consts, imports = _index(m)
        for ref in {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}:
            tm, tn = (m, ref) if ref in funcs or ref in consts else imports.get(ref, (None, None))
            tgt = _index(tm) if tm else None
            if tgt is not None and tn in tgt[0]:
                stack.append((tm, tn, tgt[0][tn]))
            elif tgt is not None and tn in tgt[1]:
                stack.append((tm, f":{tn}", tgt[1][tn]))
    return out


def closure_digest(fn, workers: set[str] | None = None) -> str:
    """md5 over the ast.dumps (docstrings stripped) of the closure of ``fn``
    and its ``<func>_oracle`` twin, or with ``workers`` (the functions a
    plan's Python nodes run) of those definitions wherever it nests them.
    Parts are keyed by name, so moving a helper moves no digest."""
    mod, idx = fn.__module__, _index(fn.__module__)
    names = [fn.__name__] + [f"{fn.__name__}_oracle"] * bool(idx and f"{fn.__name__}_oracle" in idx[0])
    closure = _closure([(mod, n, idx and idx[0].get(n)) for n in names])
    if workers:
        defs = [
            (m, d.name, d)
            for (m, _), node in closure.items()
            for d in ast.walk(node or ast.Pass())
            if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)) and d.name in workers
        ]
        closure = _closure(defs) if defs else closure
    parts = []
    for (_, name), node in closure.items():
        if ast.get_docstring(node, clean=False) if isinstance(node, ast.FunctionDef) else False:
            node = copy.copy(node)
            node.body = node.body[1:] or [ast.Pass()]
        parts.append(f"{name}\n{'<absent>' if node is None else ast.dump(node)}")
    return hashlib.md5("\n".join(sorted(parts)).encode()).hexdigest()


def compare(spark_out, oracle_sql, con) -> str | None:
    """None when Spark's (columns, types, rows) equal the oracle's, else
    what differs."""
    scols, stypes, srows = spark_out
    try:
        otbl = con.execute(oracle_sql).arrow()
        ocols = otbl.schema.names
        otypes = arrow_types(otbl)
        orows = [tuple(r) for r in zip(*(c.to_pylist() for c in otbl.columns))]
    except Exception as ex:
        return f"duckdb error: {ex}"
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} != {sorted(ocols)}"
    tdiff = {c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]}
    if tdiff:
        return f"arrow type mismatch (spark, oracle): {tdiff}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} != {len(orows)}"
    a, b = canon(srows, scols), canon(orows, ocols)
    if a != b:
        bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return f"value mismatch, first diffs: {bad}"
    return None


def main():
    import __spark_entry__ as e
    from etl_schema_spark.operators.cachereg import release_pins
    from etl_schema_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    names = [n for n in qs if not ONLY or n in ONLY]
    failures, prints, rows = set(), {}, []
    # The first pass runs as the driver does: registry order, one session,
    # so an entry may read a pin an earlier one left (kmv_distinct_estimate
    # reads kmv_set_ops', mix_epoch_plan domain_mix_weights'). The second
    # captures plans: each entry from an empty cache, so its fingerprint does
    # not depend on which entries ran before it; it is compared again.
    for cold in (False, True):
        if cold:  # the captured plans elide no fields, truncate no metadata
            spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
            spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
        for name in sorted(names) if cold else names:
            if cold:
                release_pins()
                spark.catalog.clearCache()
            since = last_execution(spark)
            try:
                sdf = qs[name](spark, SF_DIR)
                stypes = arrow_types(sdf.toArrow())
                plans = final_plans(spark, since) if cold else None
                out = (sdf.columns, stypes, [tuple(r) for r in sdf.collect()])
            except Exception as ex:
                print(f"FAIL {name}: spark error: {ex}")
                failures.add(name)
                if cold:
                    rows.append(plan_row(name, None))
                continue
            err = compare(out, oracles[name], con) if name in oracles else None
            if err:
                failures.add(name)
            verdict = f"FAIL {name}: {err}" if err else f"ok   {name}: {len(out[2])} rows"
            if cold:
                prints[name] = fingerprint(plans, qs[name], oracles.get(name, ""))
                rows.append(plan_row(name, plans))
                verdict += f" cold, plan {prints[name]}"
            print(verdict)
    print(f"\n{len(names) - len(failures)}/{len(names)} ok" + (" (filtered)" if ONLY else ""))
    if not ONLY and os.path.basename(os.path.normpath(SF_DIR)) == "sf0.01":  # the committed scale
        with open(os.path.join(REPO, "FINGERPRINTS.json"), "w") as f:
            doc = {"sources": source_digest(), "sf_dir": SF_DIR, "entries": prints}
            f.write(json.dumps(doc, indent=1, sort_keys=True) + "\n")
        with open(os.path.join(REPO, "PLANS.md"), "w") as f:
            f.write(PLANS_HEADER.format(sf_dir=SF_DIR) + "\n".join(rows) + "\n")
    sys.exit(1 if failures else 0)


PLANS_HEADER = """# Executed-plan summary

Generated by tools/check_correctness.py at {sf_dir} from the plans FINGERPRINTS.json
hashes: each entry's final adaptive plans (eager builds, result). A cached body counts once.

| query | exchanges | broadcast joins | SMJ | pushed filters | python ops |
| --- | --- | --- | --- | --- | --- |
"""


if __name__ == "__main__":
    main()
