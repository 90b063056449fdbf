"""The driver grades the first 50 queries() entries per round, so the
self-rotating registration order in __spark_entry__._ordered is itself
correctness-critical: a bug there silently burns a whole round's grading
budget on the wrong cohort."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_priority_dark_set_leads_with_current_history():
    """Whatever CORRECTNESS_r*.json files are in the repo, the
    never-graded (per _grading_history) _PRIORITY entries must lead the
    registration order, in _PRIORITY order — derived from the same
    history function the rotation uses, so a new driver file can never
    desynchronize this test from the rotation itself."""
    names = list(entry_mod.queries())
    graded = entry_mod._grading_history()
    expected_head = [
        n
        for n in entry_mod._PRIORITY
        if n in set(names) and n not in graded
    ]
    assert names[: len(expected_head)] == expected_head
    # and nothing graded may sit inside the dark block
    dark_len = sum(n not in graded for n in names)
    assert all(n not in graded for n in names[:dark_len])


def test_priority_is_the_full_round4_cohort():
    """_PRIORITY documents the expected round-4 cohort: exactly 50
    names, all registered, all oracle-backed, none with a clean driver
    row yet (as long as only r01-r03 files are present)."""
    names = set(entry_mod.queries())
    oracle = entry_mod._oracle_backed()
    assert len(entry_mod._PRIORITY) == 50
    assert len(set(entry_mod._PRIORITY)) == 50
    assert all(n in names for n in entry_mod._PRIORITY)
    assert all(n in oracle for n in entry_mod._PRIORITY)
    graded = entry_mod._grading_history()
    if max(graded.values(), default=0) <= 3:
        assert all(n not in graded for n in entry_mod._PRIORITY)


def test_queries_and_oracles_share_one_order():
    q = list(entry_mod.queries())
    o = list(entry_mod.oracle_sql())
    assert o == [n for n in q if n in set(o)]


def test_rotation_after_next_round(monkeypatch):
    """Simulate the next round: once every priority entry has a green
    row, the never-graded remainder must lead (cheap before _HEAVY,
    oracle-backed before rows-only), and graded queries must re-enter
    stalest-first (after any pending _REGRADE bumps)."""
    raw = dict.fromkeys(entry_mod.queries(), lambda s, d: None)
    history = {n: 3 for n in list(raw)[:50]}  # this round's cohort
    history.update(
        {n: 1 + (i % 2) for i, n in enumerate(list(raw)[140:])}
    )  # an older mixed-round green tail
    monkeypatch.setattr(entry_mod, "_grading_history", lambda: history)
    ordered = list(entry_mod._ordered(raw))
    dark = [n for n in raw if n not in history]
    # leftover ungraded priority entries lead, then the rest of the
    # dark set: cheap before heavy, oracle-backed queries first
    prio_dark = [n for n in entry_mod._PRIORITY if n not in history]
    rest = [n for n in dark if n not in prio_dark]
    canon = {n: i for i, n in enumerate(entry_mod._canonical_names())}
    rest.sort(
        key=lambda n: (
            n in entry_mod._HEAVY,
            n not in entry_mod._oracle_backed(),
            canon.get(n, 0),
        )
    )
    assert ordered[: len(dark)] == prio_dark + rest
    green = ordered[len(dark) :]
    pending = [
        n
        for n in green
        if history[n] <= entry_mod._REGRADE.get(n, -1)
    ]
    assert green[: len(pending)] == sorted(
        pending, key=lambda n: (history[n], canon.get(n, 0))
    )
    rounds = [history[n] for n in green[len(pending) :]]
    assert rounds == sorted(rounds)


def test_regrade_bump_leads_greens_then_expires(monkeypatch):
    """A graded query listed in _REGRADE with grade <= the recorded
    rewrite round must lead the green block; once a newer grade lands
    it falls back into the normal stalest-first rotation."""
    raw = dict.fromkeys(
        ["a", "b", "rfm", "abc", "z"], lambda s, d: None
    )
    monkeypatch.setattr(
        entry_mod, "_canonical_names", lambda: list(raw)
    )
    monkeypatch.setattr(entry_mod, "_oracle_backed", lambda: set(raw))
    monkeypatch.setattr(entry_mod, "_REGRADE", {"rfm": 4, "abc": 4})
    monkeypatch.setattr(entry_mod, "_PRIORITY", [])
    # pre-rewrite grades: rfm/abc at r3 must outrank even r1 greens
    hist = {"a": 1, "b": 2, "rfm": 3, "abc": 3, "z": 4}
    monkeypatch.setattr(entry_mod, "_grading_history", lambda: hist)
    assert list(entry_mod._ordered(raw)) == [
        "rfm",
        "abc",
        "a",
        "b",
        "z",
    ]
    # post-re-certification (r5 > 4): normal stalest-first again
    hist2 = {"a": 1, "b": 2, "rfm": 5, "abc": 5, "z": 4}
    monkeypatch.setattr(entry_mod, "_grading_history", lambda: hist2)
    assert list(entry_mod._ordered(raw)) == [
        "a",
        "b",
        "z",
        "rfm",
        "abc",
    ]


def test_rotation_invariants_with_current_history():
    """Round-agnostic fold of the retired r6/r7 cohort snapshot pins
    (VERDICT r8 item 8): whatever round the driver history is at, the
    live registry must satisfy the rotation contract —
    (a) no EXPIRED _REGRADE bump survives a newer clean grade (the
        round-open pruning hygiene, previously only a VERDICT ask),
    (b) every ungraded query and every pending bump precedes every
        normally-rotating graded query, and
    (c) the normally-rotating tail is stalest-grade-first."""
    graded = entry_mod._grading_history()
    if not graded:
        import pytest

        pytest.skip("no driver grading history yet")
    names = list(entry_mod.queries())
    bumps = entry_mod._REGRADE
    expired = sorted(
        n for n, v in bumps.items() if graded.get(n, 0) > v
    )
    assert expired == [], (
        f"expired _REGRADE bumps (newer clean grade exists): {expired} "
        "— prune at round open"
    )
    pending = {n for n, v in bumps.items() if graded.get(n, 0) <= v}
    head = {n for n in names if n not in graded} | pending
    n_head = len(head)
    assert set(names[:n_head]) == head, (
        "ungraded + pending-bump queries must lead the rotation"
    )
    rounds = [graded[n] for n in names[n_head:]]
    assert rounds == sorted(rounds)  # stalest-first tail


def test_no_stale_grades_without_regrade_bump():
    """Tripwire automating the _REGRADE policy (VERDICT r5 item 8,
    hardened per r6 item 2): a registered query whose implementing
    function's AST differs from its recorded hash-at-latest-grade
    (tools/query_hashes.json) is only acceptable while a pending
    _REGRADE entry covers it — otherwise its driver grade certifies
    code that no longer exists. Because the manifest is grade-bound
    (`--write` keeps a graded query's hash until a NEWER CORRECTNESS
    grade lands), a same-commit refresh can no longer absorb an
    unbumped edit. Fix by adding the query to _REGRADE; the manifest
    re-baselines itself at next round's `--write`."""
    import sys

    sys.path.insert(0, _repo_root())
    from tools.query_hashes import (
        current_fingerprints,
        drifted_components,
        recorded_manifest,
    )

    cur, rec = current_fingerprints(), recorded_manifest()
    graded = entry_mod._grading_history()
    stale = [
        (n, drifted_components(cur[n], rec[n]))
        for n in cur
        if n in rec
        and drifted_components(cur[n], rec[n])
        and n in graded
        and graded[n] > entry_mod._REGRADE.get(n, -1)  # no pending bump
        # a grade NEWER than the manifest row certifies the CURRENT
        # code (the driver grades the committed snapshot, and code is
        # frozen between rounds) — the manifest just hasn't been
        # re-baselined yet. Without this, the driver's own post-round
        # pytest (CORRECTNESS_r{N}.json present, `--write` not yet run)
        # would read every freshly re-graded bump as stale.
        and graded[n] <= rec[n].get("graded_round", 0)
    ]
    assert not stale, (
        f"implementation/helper/oracle changed after latest grade, no "
        f"_REGRADE bump: {stale} — add them to _REGRADE"
    )
    # ADVICE r7: while the post-grade window is open (a newer
    # CORRECTNESS grade exists and --write hasn't re-baselined yet),
    # the exemption above is blind to drift in freshly graded queries.
    # Failing here would break the driver's own post-round pytest, so
    # warn loudly instead — the warning names the exact remedy.
    from tools.query_hashes import post_grade_window_open

    if post_grade_window_open(rec, graded):
        import warnings

        warnings.warn(
            "post-grade window open: run `python tools/query_hashes.py "
            "--write` BEFORE editing any query code — the stale-edit "
            "tripwire is blind to freshly graded queries until then",
            stacklevel=1,
        )
    # never-graded or regrade-pending queries may drift, but the
    # manifest must know every registered name (and no ghosts)
    assert set(cur) == set(rec), (
        sorted(set(cur) ^ set(rec)),
        "run `python tools/query_hashes.py --write`",
    )


def test_query_hashes_check_mode_agrees_with_tripwire():
    """`python tools/query_hashes.py` (check mode) applies the same
    pending-bump rule as the tripwire above, so on a tree that passes it
    the CLI prints no query and exits 0."""
    import subprocess
    import sys

    root = _repo_root()
    proc = subprocess.run(
        [sys.executable, "tools/query_hashes.py"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, (proc.stdout, proc.stderr)
    assert proc.stdout.strip().splitlines()[-1] == "[]", proc.stdout


def test_manifest_refresh_cannot_absorb_unbumped_edit():
    """The round-6 escape scenario, pinned as a unit test: a graded
    query's code changes and `--write` runs in the same commit with NO
    new grade — the merge rule must keep the hash-at-latest-grade so
    the tripwire keeps firing (the old flat manifest re-baselined to
    current code here, which is how customers_rfm_segments slipped
    through round 6)."""
    import sys

    sys.path.insert(0, _repo_root())
    from tools.query_hashes import drifted_components, merge_manifest

    from tools.query_hashes import _COMPONENT_VERSIONS

    V = dict(_COMPONENT_VERSIONS)

    def row(h, hp="H", orc="O", v=None):
        out = {"hash": h, "helpers": hp, "oracle": orc}
        if v is not None:
            out["v"] = v
        return out

    rec = {"q": {**row("a", v=V), "graded_round": 5}}
    # same-commit refresh after an edit, no newer grade -> kept
    merged = merge_manifest({"q": row("b")}, rec, {"q": 5})
    assert merged["q"] == {**row("a", v=V), "graded_round": 5}
    # ...same for a helper-only or oracle-only drift (the round-7
    # widening: 32 of the 52 sweep changes were invisible to the
    # function hash)
    merged = merge_manifest({"q": row("a", hp="H2")}, rec, {"q": 5})
    assert merged["q"] == {**row("a", v=V), "graded_round": 5}
    assert drifted_components(row("a", hp="H2"), merged["q"]) == ["helpers"]
    merged = merge_manifest({"q": row("a", orc="O2")}, rec, {"q": 5})
    assert drifted_components(row("a", orc="O2"), merged["q"]) == ["oracle"]
    # a NEWER grade landed (driver certified current pair) -> rebase
    merged = merge_manifest({"q": row("b")}, rec, {"q": 6})
    assert merged["q"] == {**row("b", v=V), "graded_round": 6}
    # never-graded queries track current code freely
    merged = merge_manifest({"new": row("c")}, {}, {})
    assert merged["new"] == {**row("c", v=V), "graded_round": 0}
    # ghosts (unregistered names) are dropped
    merged = merge_manifest(
        {"q": row("a")},
        {**rec, "ghost": {**row("z"), "graded_round": 1}},
        {"q": 5},
    )
    assert set(merged) == {"q"}
    # legacy rows (pre-widening, no helpers/oracle) don't read as
    # drifted, and --write backfills the missing components while
    # KEEPING the at-grade hash
    legacy = {"q": {"hash": "a", "graded_round": 5}}
    assert drifted_components(row("a"), legacy["q"]) == []
    merged = merge_manifest({"q": row("b")}, legacy, {"q": 5})
    assert merged["q"] == {
        "hash": "a",
        "helpers": "H",
        "oracle": "O",
        "graded_round": 5,
        "v": V,
    }
    # algorithm-version migration (r8: helpers closure re-keyed):
    # a row recorded under an older helpers algorithm must not read a
    # helpers difference as drift — but its hash/oracle components,
    # whose algorithms did NOT change, must keep guarding; --write
    # re-records the helpers value at the current algorithm WITHOUT
    # resetting graded_round (no grade absorbed, no grade lost)
    old_v = {**V, "helpers": V["helpers"] - 1}
    oldrow = {"q": {**row("a", hp="OLDALG", v=old_v), "graded_round": 5}}
    assert drifted_components(row("a", hp="H2"), oldrow["q"]) == []
    assert drifted_components(row("b", hp="H2"), oldrow["q"]) == ["hash"]
    merged = merge_manifest({"q": row("a", hp="H2")}, oldrow, {"q": 5})
    assert merged["q"] == {**row("a", hp="H2", v=V), "graded_round": 5}


def test_helper_closure_sees_the_historical_escapes():
    """Canary for the round-7 fingerprint widening: the helper-closure
    traversal must reach the exact helpers whose edits escaped the old
    function-only hash — `_sum_money` for customers_rfm_segments (the
    round-6 escape) and the in-body-imported `global_order_stats` for
    text_vocab_growth (the round-5 case the tripwire was born from).
    If a refactor silently breaks traversal (module rename, import
    style change), this goes red before the blindness matters."""
    import sys

    sys.path.insert(0, _repo_root())
    from tools.query_hashes import helper_closure

    qs = entry_mod.queries()

    def has(fn, qualname):
        # closure keys are module.qualname since r8 (ADVICE r7: bare
        # names collided across modules)
        return any(k.endswith("." + qualname) for k in helper_closure(fn))

    assert has(qs["customers_rfm_segments"], "_sum_money")
    assert has(qs["text_vocab_growth"], "global_order_stats")
    assert has(qs["dbscan_core_components"], "dbscan")
    # load_table (the io layer every query reads through) is reachable
    # from a plain relational query via _t
    assert has(qs["q1_pricing_summary"], "load_table")


def test_helper_closure_distinguishes_same_named_helpers(tmp_path, monkeypatch):
    """ADVICE r7 regression: (a) two same-named helpers reachable from
    one query must BOTH enter the fingerprint (keys are
    module.qualname, not bare names); (b) helpers referenced via
    attribute access (``mod.func``) must be visible too."""
    import importlib.util
    import sys

    sys.path.insert(0, _repo_root())
    import tools.query_hashes as qh

    def load(name, text):
        f = tmp_path / f"{name}.py"
        f.write_text(text)
        spec = importlib.util.spec_from_file_location(name, f)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
        return mod

    load("qh_m1", "def _helper():\n    return 1\n")
    load("qh_m2", "def _helper():\n    return 2\n")
    load(
        "qh_root",
        "import qh_m1\n"
        "from qh_m2 import _helper as _h2\n"
        "def query():\n"
        "    return qh_m1._helper() + _h2()\n",
    )
    monkeypatch.setattr(
        qh, "_OURS", qh._OURS + ("qh_m1", "qh_m2", "qh_root")
    )
    try:
        keys = set(qh.helper_closure(sys.modules["qh_root"].query))
    finally:
        for n in ("qh_m1", "qh_m2", "qh_root"):
            sys.modules.pop(n, None)
    assert "qh_m1._helper" in keys  # attribute access, module 1
    assert "qh_m2._helper" in keys  # Name access, module 2 — not
    # swallowed by the same-named module-1 helper


def test_stale_edit_detection_logic():
    """The tripwire's decision rule itself, on simulated inputs: red on
    a drifted hash with a landed grade and no bump; green when a bump
    is pending, the query was never graded, or a grade NEWER than the
    manifest row landed (the driver graded the current committed code;
    only the manifest re-baseline is pending)."""

    def stale(cur, rec, graded, regrade, rec_round):
        return [
            n
            for n in cur
            if cur[n] != rec.get(n)
            and n in graded
            and graded[n] > regrade.get(n, -1)
            and graded[n] <= rec_round.get(n, 0)
        ]

    # drifted + graded + no bump -> red
    assert stale({"q": "b"}, {"q": "a"}, {"q": 5}, {}, {"q": 5}) == ["q"]
    # drifted + pending bump covering the grade -> green
    assert stale({"q": "b"}, {"q": "a"}, {"q": 5}, {"q": 5}, {"q": 5}) == []
    # drifted + never graded -> green (dark set re-grades anyway)
    assert stale({"q": "b"}, {"q": "a"}, {}, {}, {}) == []
    # unchanged -> green regardless
    assert stale({"q": "a"}, {"q": "a"}, {"q": 5}, {}, {"q": 5}) == []
    # drifted + a NEWER grade than the manifest row (the post-round
    # window: CORRECTNESS_r{N}.json landed, `--write` not yet run) ->
    # green; the new grade certified the current code
    assert stale({"q": "b"}, {"q": "a"}, {"q": 6}, {"q": 5}, {"q": 5}) == []
    # ...but a drift AFTER that same-round grade with an expired bump
    # and a re-baselined manifest -> red again
    assert stale({"q": "c"}, {"q": "b"}, {"q": 6}, {"q": 5}, {"q": 6}) == ["q"]


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.abspath(entry_mod.__file__))


def test_every_registered_query_listed_in_survey():
    """SURVEY.md §8.2 is the judge's coverage map: every name in the
    queries() registry must appear there (VERDICT r5 item 4 found
    q12_late_lines_priority registered but unlisted — this pins the
    repaired invariant so a new query can't land half-documented)."""
    import os

    import re

    survey = open(
        os.path.join(os.path.dirname(entry_mod.__file__), "SURVEY.md")
    ).read()
    # whole-word match (ADVICE r6): a bare substring test would let a
    # name that happens to be a prefix/substring of another listed
    # name (or of prose) false-pass the coverage check
    missing = [
        n
        for n in entry_mod.queries()
        if not re.search(rf"\b{re.escape(n)}\b", survey)
    ]
    assert not missing, f"registered but absent from SURVEY.md: {missing}"


def test_every_query_oracle_backed_or_rows_only_justified():
    """No operator may land unverifiable by accident: every QUERIES key
    must carry either an ORACLE entry (exact DuckDB hash gate) or an
    explicit 'rows-only' justification in its own docstring explaining
    why no SQL restatement exists (VERDICT r4 'Next round' #8)."""
    import inspect

    qs = entry_mod.queries()
    oracles = entry_mod._oracle_backed()
    missing = [
        name
        for name, fn in qs.items()
        if name not in oracles
        and "rows-only" not in (inspect.getdoc(fn) or "").lower()
    ]
    assert not missing, missing


def test_erroring_rows_stay_dark_but_no_oracle_counts(
    monkeypatch, tmp_path
):
    """A CORRECTNESS row with a real err must NOT count as graded, but
    err == 'no_oracle' is the driver's rows-only SUCCESS stamp and must
    count — otherwise rows-only queries re-grade forever (the round-3
    rotation bug)."""
    import json

    f = tmp_path / "CORRECTNESS_r07.json"
    f.write_text(
        json.dumps(
            {
                "good_query": {"rows_match": True, "err": None},
                "rows_only_query": {"rows_match": None, "err": "no_oracle"},
                "bad_query": {"rows_match": None, "err": "boom"},
            }
        )
    )
    monkeypatch.setattr(
        entry_mod.os.path, "dirname", lambda p: str(tmp_path)
    )
    hist = entry_mod._grading_history()
    assert hist == {"good_query": 7, "rows_only_query": 7}


def test_bench_set_matches_recorded_baseline():
    """The driver's 2x budget compares bench.py's total against the
    recorded BASELINE.md run, apples-to-apples ONLY while the 42-query
    set is unchanged (stable since round 2). Pin both directions: every
    bench query must still exist in the registry (a rename would crash
    the driver's bench run and zero the round's number), and the set
    must equal the recorded baseline capture's keys."""
    import json
    import os
    import re
    import sys

    sys.path.insert(0, _repo_root())
    import bench

    names = set(entry_mod.queries())
    missing = [q for q in bench.BENCH_QUERIES if q not in names]
    assert not missing, f"bench queries absent from registry: {missing}"
    baseline = open(os.path.join(_repo_root(), "BASELINE.md")).read()
    recorded = json.loads(
        re.search(r'\{"metric".*?"sf": 0\.1\}', baseline).group(0)
    )
    assert set(bench.BENCH_QUERIES) == set(recorded["queries"]), (
        sorted(set(bench.BENCH_QUERIES) ^ set(recorded["queries"])),
        "bench set drifted from the recorded baseline capture",
    )
