#!/usr/bin/env python3
"""Fingerprint manifest of every registered query, bound to the driver
round that last graded it.

Automates the `_REGRADE` policy (VERDICT r5 item 8, hardened per
VERDICT r6 item 2, widened in round 7): the driver's CORRECTNESS grades
certify a specific (implementation, oracle) pair, so a query where
EITHER side changes after its latest grade must be bumped in
`__spark_entry__._REGRADE` for re-certification. The manifest records,
per query, a three-part fingerprint *as of its latest driver grade*
plus that grade's round number:

    {"q1_pricing_summary": {"hash": "...",     # docstring-free AST of
                                               # the registered function
                            "helpers": "...",  # transitive closure of
                                               # in-repo helper functions
                                               # it references
                            "oracle": "...",   # its oracle_sql() text
                            "graded_round": 6}, ...}

The companion test in tests/test_entry_order.py goes red whenever ANY
component differs from its recorded at-latest-grade value without a
pending `_REGRADE` entry covering that grade.

Why the round number is stored (the round-6 lesson): a flat manifest
re-baselined to *current* code on every `--write`, so a code change +
same-commit manifest refresh silently absorbed an unbumped edit (the
customers_rfm_segments case, VERDICT r6 "What's wrong" #2). `--write`
only moves a graded query's fingerprint when a CORRECTNESS file shows
a grade NEWER than the recorded `graded_round`.

Why helpers and oracle are fingerprinted (the round-7 lesson): of the
52 queries whose certified pair changed in the floor-idiom sweep, only
20 drifted in their OWN function AST — the other 32 changed through a
shared helper (`_money_cents`/`_sum_money`) or through their ORACLE
dict text, both invisible to the function hash and enumerable only by
hand-diffing. The helper component hashes the transitive set of
in-repo functions (module prefix `dbscan_spark` or `__spark_entry__`)
reachable from the query function via its module globals; the oracle
component hashes the registered oracle SQL string. Remaining blind
spot: helpers imported INSIDE a function body don't appear in module
globals and are not traversed.

Usage: `python tools/query_hashes.py` prints, as a JSON list, every query
the companion test would flag (drift with no pending bump, or a name
the manifest lacks or no longer registers) and exits 1 if there is any;
`--write` runs the merge rule below and rewrites the manifest.

Workflow when changing a registered query's implementation, a shared
helper, or an oracle:
1. make the change;
2. add `"<name>": <current latest graded round>` to `_REGRADE` for
   every query the companion test flags;
3. leave the manifest alone — it keeps the fingerprint the grade
   certified.
At the START of each round (right after the new CORRECTNESS_r*.json
lands, BEFORE touching query code):
1. run `python tools/query_hashes.py --write` so freshly re-graded
   queries re-baseline to the pair the driver just certified;
2. prune expired `_REGRADE` entries (the test names them:
   test_rotation_invariants_with_current_history lists every bump
   whose query has a grade newer than its value).
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import os
import sys
import textwrap

MANIFEST = os.path.join(os.path.dirname(__file__), "query_hashes.json")

_OURS = ("dbscan_spark", "__spark_entry__")


class _DropDocstrings(ast.NodeTransformer):
    def _strip(self, node):
        self.generic_visit(node)
        if (
            node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
            and isinstance(node.body[0].value.value, str)
        ):
            node.body = node.body[1:] or [ast.Pass()]
        return node

    visit_FunctionDef = _strip
    visit_AsyncFunctionDef = _strip
    visit_ClassDef = _strip
    visit_Module = _strip


def _ast_dump(fn) -> str | None:
    try:
        src = textwrap.dedent(inspect.getsource(inspect.unwrap(fn)))
    except (OSError, TypeError):
        return None
    return ast.dump(_DropDocstrings().visit(ast.parse(src)))


def query_source_hash(fn) -> str:
    """Stable 16-hex-digit hash of the function's docstring-free AST."""
    return hashlib.sha256(_ast_dump(fn).encode("utf-8")).hexdigest()[:16]


def helper_closure(fn) -> dict[str, object]:
    """The transitive in-repo helper closure of ``fn``: every function
    from our own modules reachable by following Name references OR
    one-level ``module.func`` Attribute references through module
    globals (plus in-body ``from dbscan_spark.x import y`` statements),
    excluding ``fn`` itself. Keys are ``module.qualname`` so two
    same-named helpers in different modules are BOTH fingerprinted
    (ADVICE r7). Remaining blind spot: dynamic dispatch
    (``getattr(mod, name)()``, dict-of-functions tables)."""
    root = inspect.unwrap(fn)
    seen: dict[str, object] = {}
    stack = [root]

    def _key(v) -> str:
        return (
            (getattr(v, "__module__", "") or "?")
            + "."
            + (getattr(v, "__qualname__", getattr(v, "__name__", "?")))
        )

    def _add(v) -> None:
        if v is None or not inspect.isfunction(v):
            return
        if inspect.unwrap(v) is root:
            return
        mod = getattr(v, "__module__", "") or ""
        if mod.split(".")[0] not in _OURS:
            return
        k = _key(v)
        if k not in seen:
            seen[k] = v
            stack.append(v)

    while stack:
        f = stack.pop()
        try:
            src = textwrap.dedent(inspect.getsource(inspect.unwrap(f)))
            tree = ast.parse(src)
        except (OSError, TypeError, SyntaxError):
            continue
        names = {
            n.id for n in ast.walk(tree) if isinstance(n, ast.Name)
        }
        # one-level `module.func` attribute references (base must be a
        # Name bound to one of our modules in globals)
        attrs = {
            (n.value.id, n.attr)
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
        }
        g = dict(getattr(inspect.unwrap(f), "__globals__", {}))
        # in-body `from dbscan_spark.x import y` (module globals don't
        # see these — the text_vocab_growth/global_order_stats case)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module and (
                node.module.split(".")[0] in _OURS
            ):
                try:
                    import importlib

                    m = importlib.import_module(node.module)
                except ImportError:
                    continue
                for alias in node.names:
                    v = getattr(m, alias.name, None)
                    if v is not None:
                        g.setdefault(alias.asname or alias.name, v)
        for nm in sorted(names):
            _add(g.get(nm))
        for base_nm, attr_nm in sorted(attrs):
            base = g.get(base_nm)
            if inspect.ismodule(base) and (
                (getattr(base, "__name__", "") or "").split(".")[0] in _OURS
            ):
                _add(getattr(base, attr_nm, None))
    return seen


def helper_closure_hash(fn) -> str:
    """Deterministic hash of the helper closure (sorted by helper
    name; docstring-free ASTs)."""
    seen = helper_closure(fn)
    parts = []
    for nm in sorted(seen):
        dumped = _ast_dump(seen[nm])
        if dumped is not None:
            parts.append(f"{nm}:{dumped}")
    return hashlib.sha256("\n".join(parts).encode("utf-8")).hexdigest()[:16]


def oracle_text_hash(sql: str | None) -> str:
    """Hash of the registered oracle SQL (empty string for rows-only)."""
    return hashlib.sha256((sql or "").encode("utf-8")).hexdigest()[:16]


_COMPONENTS = ("hash", "helpers", "oracle")

# Per-component fingerprint-ALGORITHM versions. Bump a component's
# version when its hashing algorithm changes (never when query code
# changes): a recorded component hashed under an older algorithm is
# not comparable — any difference is the algorithm's, not the code's —
# so --check skips exactly that component (the others keep guarding)
# and --write re-records it at the current algorithm WITHOUT resetting
# graded_round. Recorded rows carry their versions under "v"; rows
# without "v" predate versioning and read as all-1.
# helpers=2 (r8): closure keys became module.qualname and one-level
# attribute references are walked (ADVICE r7).
_COMPONENT_VERSIONS = {"hash": 1, "helpers": 2, "oracle": 1}


def _comparable(component: str, rec_row: dict) -> bool:
    return (
        component in rec_row
        and rec_row.get("v", {}).get(component, 1)
        == _COMPONENT_VERSIONS[component]
    )


def _entry_mod():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod

    return entry_mod


def current_fingerprints() -> dict[str, dict]:
    """{name: {hash, helpers, oracle}} for every registered query."""
    entry_mod = _entry_mod()
    oracles = entry_mod.oracle_sql()
    return {
        name: {
            "hash": query_source_hash(fn),
            "helpers": helper_closure_hash(fn),
            "oracle": oracle_text_hash(oracles.get(name)),
        }
        for name, fn in entry_mod.queries().items()
    }


def current_hashes() -> dict[str, str]:
    """Back-compat view: function-AST hash only."""
    entry_mod = _entry_mod()
    return {
        name: query_source_hash(fn)
        for name, fn in entry_mod.queries().items()
    }


def recorded_manifest() -> dict[str, dict]:
    """{name: {hash, helpers, oracle, graded_round}} as recorded.
    Rows written before the round-7 widening may lack helpers/oracle."""
    with open(MANIFEST) as fh:
        return json.load(fh)


def recorded_hashes() -> dict[str, str]:
    """Recorded function-hash-at-latest-grade per query."""
    return {n: row["hash"] for n, row in recorded_manifest().items()}


def drifted_components(cur_row: dict, rec_row: dict) -> list[str]:
    """Which fingerprint components differ from the recorded row.
    Components absent from the recorded row (legacy pre-widening rows)
    or recorded under an older algorithm version (see
    _COMPONENT_VERSIONS) are not comparable and don't count as drift —
    `--write` backfills/re-records them."""
    return [
        c
        for c in _COMPONENTS
        if _comparable(c, rec_row) and rec_row[c] != cur_row[c]
    ]


def merge_manifest(
    cur: dict[str, dict],
    rec: dict[str, dict],
    graded: dict[str, int],
) -> dict[str, dict]:
    """Pure `--write` merge rule (unit-tested in test_entry_order.py).

    Per registered query:
    - never graded -> track the current fingerprint freely;
    - a grade NEWER than the recorded graded_round landed -> the driver
      certified the current pair; re-baseline fingerprint + round;
    - otherwise -> KEEP the recorded at-grade components (that drift is
      exactly what the tripwire must keep seeing until a new grade
      lands), backfilling only components the legacy row never had.
    Ghost entries (no longer registered) are dropped.
    """
    out: dict[str, dict] = {}
    for name, cur_row in cur.items():
        latest = graded.get(name, 0)
        old = rec.get(name)
        if old is None or latest == 0 or latest > old.get("graded_round", 0):
            out[name] = {**cur_row, "graded_round": latest}
        else:
            # keep at-grade components where comparable; re-record
            # components hashed under an older algorithm (their grade
            # still certifies the unchanged code)
            out[name] = {
                c: old[c] if _comparable(c, old) else cur_row[c]
                for c in _COMPONENTS
            }
            out[name]["graded_round"] = old["graded_round"]
        out[name]["v"] = dict(_COMPONENT_VERSIONS)
    return out


def post_grade_window_open(
    rec: dict[str, dict], graded: dict[str, int]
) -> bool:
    """True while grades NEWER than any recorded graded_round exist —
    i.e. a CORRECTNESS_r{N}.json landed and `--write` has not run yet.
    In this window the stale-edit tripwire is blind to drift in the
    freshly graded queries (their new grade certifies the committed
    snapshot, which the manifest doesn't describe yet), so editing any
    query before the re-baseline can escape detection for a full round
    (ADVICE r7). The fix is procedural and cheap: run `--write` first."""
    return any(
        graded.get(n, 0) > row.get("graded_round", 0)
        for n, row in rec.items()
    )


def unbumped_drift(
    cur: dict[str, dict],
    rec: dict[str, dict],
    graded: dict[str, int],
    regrade: dict[str, int],
) -> list[str]:
    """Graded queries whose fingerprint differs from the recorded
    at-grade one with nothing excusing it — the rule
    tests/test_entry_order.py::test_no_stale_grades_without_regrade_bump
    enforces. Drift is allowed for a never-graded query, under a pending
    `_REGRADE` bump (latest grade <= the bump), and while a grade newer
    than the recorded row awaits `--write` (it certifies current code)."""
    return sorted(
        n
        for n in cur
        if n in rec
        and drifted_components(cur[n], rec[n])
        and n in graded
        and graded[n] > regrade.get(n, -1)
        and graded[n] <= rec[n].get("graded_round", 0)
    )


def main() -> None:
    entry_mod = _entry_mod()
    cur = current_fingerprints()
    graded = entry_mod._grading_history()
    try:
        rec = recorded_manifest()
    except FileNotFoundError:
        rec = {}
    if "--write" in sys.argv:
        merged = merge_manifest(cur, rec, graded)
        kept = sorted(
            n
            for n in merged
            if any(merged[n][c] != cur[n][c] for c in _COMPONENTS)
            and graded.get(n, 0) > entry_mod._REGRADE.get(n, -1)
        )
        with open(MANIFEST, "w") as fh:
            json.dump(merged, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(merged)} entries to {MANIFEST}")
        if kept:
            print(
                "kept fingerprint-at-latest-grade (drifted, no newer "
                f"grade, no pending bump — needs a _REGRADE bump): {kept}"
            )
        return
    if post_grade_window_open(rec, graded):
        print(
            "WARNING: post-grade window open — grades newer than the "
            "recorded manifest exist, and the stale-edit tripwire is "
            "BLIND to drift in those queries until re-baselined. Run "
            "`python tools/query_hashes.py --write` BEFORE editing any "
            "query code.",
            file=sys.stderr,
        )
    drift = sorted(
        set(unbumped_drift(cur, rec, graded, entry_mod._REGRADE))
        | (set(rec) - set(cur))
        | (set(cur) - set(rec))
    )
    print(json.dumps(drift))
    sys.exit(1 if drift else 0)


if __name__ == "__main__":
    main()
