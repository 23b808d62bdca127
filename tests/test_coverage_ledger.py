"""COVERAGE.md is machine-derived from the driver's CORRECTNESS records and
must stay current and non-regressing (r4 VERDICT item 3)."""

from __future__ import annotations

import os

from tools import coverage_ledger as cl


def test_classify_evidence_classes():
    assert cl.classify({"hash_match": True}) == "hash"
    assert cl.classify({"err": "no_oracle", "spark_rows": 10}) == "rows"
    assert cl.classify({"hash_match": False, "rows_match": True}) == "RED"
    assert cl.classify({"err": "boom", "spark_rows": None}) == "RED"
    assert cl.classify({}) is None
    # a zero-row rows-only record is NOT green evidence (the silent
    # empty-result failure mode must surface, not ledger as covered)
    assert cl.classify({"err": "no_oracle", "spark_rows": 0}) == "RED"


def test_coverage_md_is_current():
    """Regeneration must equal the committed file — READ-ONLY (r9 ADVICE:
    the previous in-place auto-fold made the staleness gate self-fulfilling,
    mutated a tracked file during test runs, and broke on read-only
    checkouts). A stale ledger now FAILS with a pointer to the fold tool;
    fold as the round's first action (r9 VERDICT item 8). Determinism
    guard kept: two independent renders must agree."""
    text = cl.render(cl.fold(cl.load_rounds()), cl.registry_names())
    text2 = cl.render(cl.fold(cl.load_rounds()), cl.registry_names())
    assert text == text2, "coverage render is nondeterministic"
    path = os.path.join(cl.REPO, "COVERAGE.md")
    assert os.path.exists(path) and open(path).read() == text, (
        "COVERAGE.md is stale vs the CORRECTNESS_r*.json records — run "
        "`python tools/coverage_ledger.py` and commit the fold"
    )


def test_coverage_never_regresses():
    """Every query that ever earned a green driver row must still be
    registered (dropping one silently would shrink the graded surface) or
    be named in ``RETIRED`` with its reason, and a retired query must
    really be gone from the registry. No query may sit red with no later
    green — unless a LOCAL_VERIFY record newer than the red shows the fix
    already passed the full local replica of the oracle compare
    (tools/local_verify.py); such rows are 'pending re-drive', not open."""
    folded = cl.fold(cl.load_rounds())
    registry = set(cl.registry_names())
    ever_green = {n for n, row in folded.items() if row["green"]}
    assert ever_green - registry == set(cl.RETIRED), sorted(ever_green - registry)
    assert all(reason.strip() for reason in cl.RETIRED.values())
    open_red, _pending = cl.open_reds(folded, cl.load_local_verify())
    assert not open_red, open_red


def test_local_verify_expires_on_later_driver_record():
    """The pending-re-drive downgrade must not outlive the next driver
    drive: a red NEWER than the local verification reopens the row, and
    a later green makes the annotation moot."""
    folded = {"q": {"green": [], "red": [10], "last_green": None}}
    still, pending = cl.open_reds(folded, {"q": {"fixed_after_round": 10}})
    assert (still, pending) == ([], ["q"])
    # driver reds it again in r11 -> the stale local verify no longer covers
    folded2 = {"q": {"green": [], "red": [10, 11], "last_green": None}}
    still2, pending2 = cl.open_reds(folded2, {"q": {"fixed_after_round": 10}})
    assert (still2, pending2) == (["q"], [])
    # later green closes the row outright
    folded3 = {"q": {"green": [(11, "hash")], "red": [10], "last_green": 11}}
    assert cl.open_reds(folded3, {}) == ([], [])


def test_live_pending_redrive_queue():
    """A LOCAL_VERIFY entry is a live pending-re-drive marker while the
    driver has not written any record for the query since the local
    verification (``as_of_round``); a later driver row — green OR red —
    supersedes it (r11 VERDICT items 1/8). Live entries force the query
    to staleness 0 so the next rotation window re-drives the rewritten
    plan."""
    folded = {
        "rewritten": {"green": [(9, "hash")], "red": [], "last_green": 9},
        "redriven": {"green": [(9, "hash"), (11, "hash")], "red": [],
                     "last_green": 11},
        "re_redded": {"green": [(9, "hash")], "red": [11], "last_green": 9},
    }
    lv = {
        "rewritten": {"as_of_round": 10},
        "redriven": {"as_of_round": 10},
        "re_redded": {"as_of_round": 10},
        "never_driven": {"as_of_round": 10},
    }
    assert cl.live_pending(folded, lv) == ["never_driven", "rewritten"]
    # legacy records without as_of_round fall back to fixed_after_round
    assert cl.live_pending(folded, {"rewritten": {"fixed_after_round": 10}}) \
        == ["rewritten"]


def test_rotation_fronts_pending_redrive_queries():
    """The four r11-rewritten percentile queries must occupy the front of
    the r12 window until the driver re-hashes their new plans; once
    LOCAL_VERIFY prunes them (post-re-drive), this pins that rotation
    ordering stays consistent between COVERAGE.md and queries()."""
    folded = cl.fold(cl.load_rounds())
    lv = cl.load_local_verify()
    live = [n for n in cl.live_pending(folded, lv)
            if n in set(cl.registry_names())]
    window = cl.registry_names()[:50]
    for n in live:
        assert n in window, f"pending-re-drive query {n} fell out of the window"


def test_driver_window_boundary_is_exactly_50():
    """The external driver hash-checks only the FIRST 50 entries of
    queries() per round; the registry's boundary comment documents which
    queries are in this round's window. Pin the comment to the actual
    50th entry so a rotation edit that forgets to re-balance the tiers
    fails here instead of silently shrinking driver coverage."""
    import re

    src = open("/root/repo/__spark_entry__.py").read()
    body = src[src.index("def queries()"):src.index("def oracle_sql()")]
    entries = re.findall(r'^\s{8}"([a-z0-9_]+)":', body, re.M)
    boundary = body.index("driver window boundary")
    above = [e for e in entries if body.index(f'"{e}":') < boundary]
    assert len(above) == 50, f"window holds {len(above)} entries, expected 50"
    assert len(set(entries)) == len(entries), "duplicate registry keys"
