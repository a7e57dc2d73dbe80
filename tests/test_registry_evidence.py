"""Registry hygiene: every oracle query must have driver-side
correctness evidence — a green row in some CORRECTNESS_r*.json — or be
scheduled for it (sit inside the next driver window, the first ~50
registry entries). Guards future additions against silently shipping
oracle queries that never meet the driver's gate."""

from __future__ import annotations

import glob
import json
import os

import re

from data_engineering_rag_spark.plans import (
    _DRIVER_VERIFIED_BY_ROUND,
    DRIVER_EVIDENCE_ROUND,
    LAST_CHANGED,
    REGISTRY,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_WINDOW = 50


def _driver_rows_by_round() -> dict[int, set[str]]:
    rows: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows[rnd] = set(json.load(f))
    return rows


def _driver_rows() -> set[str]:
    names: set[str] = set()
    for per_round in _driver_rows_by_round().values():
        names |= per_round
    return names


def _stale() -> set[str]:
    """Queries rewritten after their latest driver row — they re-earn
    evidence with window priority (VERDICT r5 item 1)."""
    latest: dict[str, int] = {}
    for rnd, names in sorted(_driver_rows_by_round().items()):
        for n in names:
            latest[n] = rnd
    return {n for n, rnd in LAST_CHANGED.items() if rnd > latest.get(n, 0)}


def test_every_oracle_query_has_driver_evidence_or_window_slot():
    """Every never-checked oracle query sits in the next driver window
    — UNLESS the window is already saturated with evidence candidates
    (stale re-checks + other never-checked queries), in which case the
    overflow legitimately waits a round. What may never happen: a
    wasted slot (rows-only or fresh-verified entry) inside the window
    while an oracle query without evidence sits outside it."""
    checked = _driver_rows()
    names = list(REGISTRY)
    window, rest = names[:DRIVER_WINDOW], names[DRIVER_WINDOW:]
    stale = _stale()
    unscheduled = [
        n for n in rest if REGISTRY[n].oracle is not None and n not in checked
    ]
    if not unscheduled:
        return
    wasted = [
        n
        for n in window
        if REGISTRY[n].oracle is None or (n in checked and n not in stale)
    ]
    assert not wasted, (
        f"window slots wasted on {wasted} while oracle queries without "
        f"driver evidence wait outside: {unscheduled}"
    )


def test_window_prioritizes_unchecked_oracle_queries():
    """No FRESH-verified query may occupy a window slot while an
    unchecked oracle query waits outside. Stale rewrites are exempt:
    re-earning evidence for changed code outranks first evidence for
    new code (VERDICT r5 item 1)."""
    checked = _driver_rows()
    names = list(REGISTRY)
    window, rest = names[:DRIVER_WINDOW], names[DRIVER_WINDOW:]
    waiting = [n for n in rest if REGISTRY[n].oracle is not None and n not in checked]
    if not waiting:
        return
    stale = _stale()
    squatters = [n for n in window if n in checked and n not in stale]
    assert not squatters, (
        f"fresh-verified queries {squatters} hold window slots while "
        f"unchecked oracle queries wait: {waiting}"
    )


def test_in_code_evidence_map_matches_correctness_files():
    """The static _DRIVER_VERIFIED_BY_ROUND map in plans/__init__.py
    must mirror the CORRECTNESS_r*.json files on disk, so the reorder
    logic and the staleness gate can't drift from reality. Rounds on
    disk but not in code (a new round just landed) are reported so the
    map gets updated next session."""
    on_disk = _driver_rows_by_round()
    for rnd, names in _DRIVER_VERIFIED_BY_ROUND.items():
        assert rnd in on_disk, f"code claims round {rnd} evidence but no CORRECTNESS_r{rnd:02d}.json"
        extra = names - on_disk[rnd]
        assert not extra, f"code claims round-{rnd} rows absent from the file: {sorted(extra)}"


def test_rewritten_queries_have_fresh_evidence_or_window_slot():
    """Staleness gate (VERDICT r5 item 2): a query whose body was
    materially rewritten (LAST_CHANGED) must have a driver-green row
    from that round or later — or sit inside the next driver window so
    the evidence gets re-earned. Prevents rewritten-after-evidence
    queries from silently keeping pre-rewrite rows as their only hard
    signal."""
    by_round = _driver_rows_by_round()
    latest: dict[str, int] = {}
    for rnd, names in sorted(by_round.items()):
        for n in names:
            latest[n] = rnd
    window = set(list(REGISTRY)[:DRIVER_WINDOW])
    stale = [
        name
        for name, changed in LAST_CHANGED.items()
        if name in REGISTRY
        and REGISTRY[name].oracle is not None
        and latest.get(name, 0) < changed
        and name not in window
    ]
    assert not stale, (
        "queries rewritten after their latest driver row, and not "
        f"scheduled in the next window: {stale}"
    )


def test_last_changed_names_exist():
    unknown = [n for n in LAST_CHANGED if n not in REGISTRY]
    assert not unknown, f"LAST_CHANGED references unknown queries: {unknown}"
    unknown_ev = [n for n in DRIVER_EVIDENCE_ROUND if n not in REGISTRY]
    assert not unknown_ev, f"evidence map references unknown queries: {unknown_ev}"


def test_last_changed_has_no_duplicate_literal_keys():
    """A duplicate key in the LAST_CHANGED dict literal is silently
    last-wins: deleting what looks like a stray later duplicate would
    revert the staleness gate to the older round with no error
    anywhere (found by the round-11 review: the near-dup entry
    appeared at both 7 and 11). Parse the source and forbid it."""
    import ast
    import inspect

    import data_engineering_rag_spark.plans as plans

    tree = ast.parse(inspect.getsource(plans))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.AnnAssign)
            and getattr(node.target, "id", "") == "LAST_CHANGED"
        ):
            keys = [k.value for k in node.value.keys]
            dups = sorted({k for k in keys if keys.count(k) > 1})
            assert not dups, f"duplicate LAST_CHANGED keys: {dups}"
            return
    raise AssertionError("LAST_CHANGED dict literal not found")


def _load_digest_manifest() -> dict:
    path = os.path.join(
        REPO_ROOT, "data_engineering_rag_spark", "plans", "source_digests.json"
    )
    with open(path) as f:
        return json.load(f)


def test_source_digests_current_or_ledger_bumped():
    """Staleness-ledger automation (r14, VERDICT item 4): a registered
    query whose result-producing source (AST minus docstrings/comments,
    plus oracle SQL) drifted from the checked-in manifest MUST carry a
    LAST_CHANGED bump past the manifest's recorded round. Fix by
    bumping LAST_CHANGED in plans/__init__.py, then running
    scripts/update_source_digests.py and committing both."""
    from data_engineering_rag_spark.plans import (
        source_digest,
        staleness_ledger_violations,
    )

    manifest = _load_digest_manifest()
    digests = {name: source_digest(spec) for name, spec in REGISTRY.items()}
    missing, dead, unbumped, pending = staleness_ledger_violations(
        manifest, digests, LAST_CHANGED
    )
    assert not missing, f"queries missing from source_digests.json: {missing}"
    assert not dead, f"dead manifest rows (query removed): {dead}"
    assert not unbumped, (
        f"body changed without a LAST_CHANGED bump: {unbumped} — bump the "
        f"ledger, then regenerate with scripts/update_source_digests.py"
    )
    assert not pending, (
        f"regeneration pending (LAST_CHANGED bumped past the manifest's "
        f"recorded round, so a LATER body edit would be invisible): "
        f"{pending} — run scripts/update_source_digests.py and commit"
    )


def test_source_digests_do_not_depend_on_the_checkout_path(tmp_path):
    """The logs oracles embed the fixtures' absolute path
    (plans/logsq.py::LOGS_GLOB). The same package imported from another
    directory must give every registered query the same digest, or the
    manifest check fails in every checkout but one."""
    import shutil
    import subprocess
    import sys

    from data_engineering_rag_spark.plans import source_digest

    shutil.copytree(
        os.path.join(REPO_ROOT, "data_engineering_rag_spark"),
        tmp_path / "data_engineering_rag_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    moved = subprocess.run(
        [sys.executable, "-c", (
            "import json, sys; sys.path.insert(0, sys.argv[1]);"
            "from data_engineering_rag_spark.plans import REGISTRY, source_digest;"
            "print(json.dumps({n: [s.oracle, source_digest(s)] for n, s in REGISTRY.items()}))"
        ), str(tmp_path)],
        capture_output=True, text=True, check=True, cwd=tmp_path,
    )
    there = json.loads(moved.stdout.splitlines()[-1])
    assert str(tmp_path) in there["logs_qa_extract"][0]
    here = {n: source_digest(spec) for n, spec in REGISTRY.items()}
    assert {n: there[n][1] for n in here if n in there} == here


def test_staleness_ledger_flags_synthetic_edit():
    """The checker itself must go red on a synthetic body edit: digest
    drift with an un-bumped ledger is a violation; drift WITH a bump is
    not; doc-only edits produce no drift at all."""
    import types

    from data_engineering_rag_spark.plans import (
        QuerySpec,
        source_digest,
        staleness_ledger_violations,
    )

    manifest = {"q": {"digest": "aaaa", "last_changed": 5}}
    # drift, ledger still at the recorded round -> violation
    assert staleness_ledger_violations(manifest, {"q": "bbbb"}, {"q": 5}) == (
        [], [], ["q"], []
    )
    # drift with a bump past the recorded round -> regeneration pending
    # (ADVICE r15: the bump alone must not pass — committing it without
    # update_source_digests.py would mask any LATER body edit)
    assert staleness_ledger_violations(manifest, {"q": "bbbb"}, {"q": 6}) == (
        [], [], [], ["q"]
    )
    # bump recorded into the manifest (post-regeneration) -> clean
    manifest6 = {"q": {"digest": "bbbb", "last_changed": 6}}
    assert staleness_ledger_violations(manifest6, {"q": "bbbb"}, {"q": 6}) == (
        [], [], [], []
    )
    # pending even WITHOUT digest drift: a doc-only edit plus a bump
    # still demands regeneration so the recorded round stays current
    assert staleness_ledger_violations(manifest, {"q": "aaaa"}, {"q": 6}) == (
        [], [], [], ["q"]
    )
    # new query not yet in the manifest / dead manifest row
    assert staleness_ledger_violations(manifest, {"q": "aaaa", "new": "x"}, {})[0] == ["new"]
    assert staleness_ledger_violations(manifest, {}, {})[1] == ["q"]

    # and the digest itself: docstring/comment edits are invisible,
    # body edits are not
    ns: dict = {}
    exec(
        "def q1(spark, sf_dir):\n"
        "    '''doc A'''\n"
        "    # a comment\n"
        "    return spark.range(1)\n",
        ns,
    )
    exec(
        "def q1(spark, sf_dir):\n"
        "    '''doc B, totally rewritten'''\n"
        "    return spark.range(1)\n",
        ns.setdefault("_b", {}) or ns["_b"],
    )
    exec(
        "def q1(spark, sf_dir):\n"
        "    '''doc A'''\n"
        "    return spark.range(2)\n",
        ns.setdefault("_c", {}) or ns["_c"],
    )
    import inspect
    import unittest.mock as mock

    def dig(fn, oracle="SELECT 1"):
        src_map = {
            ns["q1"]: "def q1(spark, sf_dir):\n    '''doc A'''\n    # a comment\n    return spark.range(1)\n",
            ns["_b"]["q1"]: "def q1(spark, sf_dir):\n    '''doc B, totally rewritten'''\n    return spark.range(1)\n",
            ns["_c"]["q1"]: "def q1(spark, sf_dir):\n    '''doc A'''\n    return spark.range(2)\n",
        }
        with mock.patch.object(inspect, "getsource", lambda f: src_map[f]):
            return source_digest(QuerySpec(name="q1", spark=fn, oracle=oracle))

    base = dig(ns["q1"])
    assert dig(ns["_b"]["q1"]) == base      # doc/comment edit: no drift
    assert dig(ns["_c"]["q1"]) != base      # body edit: drift
    assert dig(ns["q1"], oracle="SELECT 2") != base  # oracle edit: drift
