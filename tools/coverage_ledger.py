"""Cumulative driver-coverage ledger.

Folds every ``CORRECTNESS_r*.json`` the external driver has written into
``COVERAGE.md``: one row per registered query with the rounds it went green,
the kind of evidence (hash vs rows-only), and its last-green round — so
window-rotation staleness is machine-derived instead of tracked in prose.

Run from the repo root::

    python tools/coverage_ledger.py          # rewrites COVERAGE.md
    python tools/coverage_ledger.py --check  # exit 1 if COVERAGE.md is stale

A green row is either a hash match (``hash_match: true``) or a rows-only
record for a query that deliberately registers no oracle (``err:
"no_oracle"`` with a row count) — the driver's two evidence classes.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries removed from the registry on purpose after earning green rows
# in the CORRECTNESS records, each with its reason. Every other query
# that was ever green must stay registered.
RETIRED = {
    "cohort_retention_salted": "same result and plan family as cohort_retention; "
    "its salted dedup lost a 12-pair A/B to the plain distinct and was deleted",
}


def load_rounds(repo: str = REPO) -> dict[int, dict]:
    rounds: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rounds[int(m.group(1))] = json.load(f)
    return rounds


def classify(rec: dict) -> str | None:
    """'hash' / 'rows' for a green record, 'RED' for a checked failure,
    None for an unusable record."""
    if rec.get("hash_match"):
        return "hash"
    # rows-only evidence requires rows: a silent empty result (e.g. the
    # zero-row streaming-layout failure mode) must not ledger as green
    if rec.get("err") == "no_oracle" and (rec.get("spark_rows") or 0) > 0:
        return "rows"
    if rec.get("hash_match") is False or rec.get("rows_match") is False or rec.get("err"):
        return "RED"
    return None


def fold(rounds: dict[int, dict]) -> dict[str, dict]:
    """query -> {green: [(round, kind)], red: [round], last_green: int|None}"""
    out: dict[str, dict] = {}
    for r in sorted(rounds):
        for name, rec in rounds[r].items():
            row = out.setdefault(name, {"green": [], "red": []})
            kind = classify(rec)
            if kind in ("hash", "rows"):
                row["green"].append((r, kind))
            elif kind == "RED":
                row["red"].append(r)
    for row in out.values():
        row["last_green"] = max((r for r, _ in row["green"]), default=None)
    return out


def load_local_verify(repo: str = REPO) -> dict[str, dict]:
    """LOCAL_VERIFY.json: query -> {fixed_after_round, commit, note}.

    Written by ``tools/local_verify.py`` after a query that the driver
    red-flagged passes the full local replica of the driver compare
    (sf0.01, TZ=Asia/Kolkata).  An entry downgrades the open-red
    tripwire to "fix locally verified, pending re-drive" — it never
    counts as green evidence, and it expires the moment the driver
    writes any later record for the query (green makes it moot; a later
    red reopens the row because fixed_after_round < the new red round).
    """
    path = os.path.join(repo, "LOCAL_VERIFY.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def live_pending(folded: dict[str, dict],
                 local_verify: dict[str, dict] | None = None) -> list[str]:
    """Queries whose CURRENT plan has passed the full local replica of the
    driver compare but has no driver evidence yet — the pending-re-drive
    queue (r11 VERDICT items 1/8).

    An entry is live while the driver has not verified the query since the
    local verification: ``last_green <= as_of_round`` (``as_of_round`` is
    the latest folded driver round when ``tools/local_verify.py`` ran).
    Once the driver writes a later green/red row the entry is moot and
    ``prune_local_verify`` drops it.  Live entries sort at staleness 0 in
    the rotation so rewritten plans always re-drive next round.
    """
    lv = local_verify or {}
    out = []
    for n, rec in lv.items():
        as_of = rec.get("as_of_round", rec.get("fixed_after_round", 0))
        row = folded.get(n)
        last = max(
            (row["last_green"] or 0) if row else 0,
            max(row["red"], default=0) if row else 0,
        )
        if last <= as_of:
            out.append(n)
    return sorted(out)


def prune_local_verify(repo: str = REPO) -> list[str]:
    """Drop LOCAL_VERIFY entries superseded by a later driver record, so
    the file stays a live queue, not a log (r11 VERDICT item 8).
    Returns the pruned names; rewrites the file only when something fell."""
    path = os.path.join(repo, "LOCAL_VERIFY.json")
    lv = load_local_verify(repo)
    if not lv:
        return []
    live = set(live_pending(fold(load_rounds(repo)), lv))
    dead = sorted(set(lv) - live)
    if dead:
        with open(path, "w") as f:
            json.dump({n: lv[n] for n in live}, f, indent=1, sort_keys=True)
            f.write("\n")
    return dead


def rotation_key(folded: dict[str, dict], redrive: set[str]):
    """THE rotation ordering, shared by COVERAGE.md's table and
    rotate_window's queries() rewrite (r12 self-review: duplicated keys
    would silently desync 'table order = next window'): staleness tier
    first (live pending-re-drive = 0), then WEAKEST EVIDENCE first
    (fewest green driver rounds), then name for determinism."""

    def key(n: str):
        row = folded.get(n, {})
        return (
            0 if n in redrive else (row.get("last_green") or 0),
            len(row.get("green", [])),
            n,
        )

    return key


def open_reds(folded: dict[str, dict], local_verify: dict[str, dict] | None = None):
    """(still_open, pending) — red-after-last-green rows, split by whether
    a local verification newer than the last red covers them."""
    lv = local_verify or {}
    still, pending = [], []
    for n, row in folded.items():
        if not row["red"]:
            continue
        last_red = max(row["red"])
        if row["last_green"] is not None and row["last_green"] >= last_red:
            continue
        if lv.get(n, {}).get("fixed_after_round", -1) >= last_red:
            pending.append(n)
        else:
            still.append(n)
    return still, pending


def registry_names() -> list[str]:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    return list(entrymod.queries())


def render(folded: dict[str, dict], registry: list[str]) -> str:
    latest = max((r for rows in (folded.values()) for r, _ in rows["green"]), default=0)
    lines = [
        "# COVERAGE — cumulative driver-correctness ledger",
        "",
        "Machine-generated by `tools/coverage_ledger.py` from the driver's",
        "`CORRECTNESS_r*.json` records — do not edit by hand. One row per",
        "registered query: which rounds produced a green driver row (``h`` =",
        "hash match vs the DuckDB oracle, ``r`` = rows-only by design), and",
        "the last round with green evidence. Sorted stalest-first: the top",
        "of this table is the next rotation window.",
        "",
    ]
    reg_set = set(registry)
    pos = {n: i for i, n in enumerate(registry)}
    known = [n for n in folded if n in reg_set]
    never = [n for n in registry if n not in folded]
    n_hash = sum(1 for n in known if any(k == "hash" for _, k in folded[n]["green"]))
    n_rows = sum(
        1
        for n in known
        if folded[n]["green"] and all(k == "rows" for _, k in folded[n]["green"])
    )
    known_folded = {n: folded[n] for n in known}
    lv = load_local_verify()
    open_red, pending = open_reds(known_folded, lv)
    redrive = [n for n in live_pending(folded, lv) if n in reg_set]
    lines += [
        f"- Registered queries: **{len(registry)}**; ever driver-checked: "
        f"**{len(known)}**; never checked: **{len(never)}**"
        + (f" ({', '.join(never)})" if never else ""),
        f"- Hash-green at least once: **{n_hash}**; rows-only-green: **{n_rows}**",
        f"- Open red rows (red after last green): **{len(open_red)}**"
        + (f" ({', '.join(open_red)})" if open_red else "")
        + (
            f"; fix locally verified, pending re-drive: {', '.join(pending)}"
            if pending
            else ""
        ),
        f"- Latest driver round folded: **r{latest}**",
    ]
    if redrive:
        lines.append(
            "- Plan rewritten since last driver evidence — locally verified, "
            f"pending re-drive (forced to window front): {', '.join(redrive)}"
        )
    lines += [
        "",
        "| query | green rounds | last green | window slot |",
        "|---|---|---|---|",
    ]
    sort_key = rotation_key(folded, set(redrive))
    for n in sorted(known, key=sort_key):
        row = folded[n]
        marks = ", ".join(f"r{r}{'h' if k == 'hash' else 'r'}" for r, k in row["green"])
        reds = "".join(f" **RED r{r}**" for r in row["red"])
        lines.append(
            f"| {n} | {marks or '—'}{reds} | "
            f"{'r' + str(row['last_green']) if row['last_green'] else '—'} | {pos[n] + 1} |"
        )
    for n in never:
        lines.append(f"| {n} | — (never driver-checked) | — | {pos[n] + 1} |")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    folded = fold(load_rounds())
    text = render(folded, registry_names())
    path = os.path.join(REPO, "COVERAGE.md")
    if "--check" in sys.argv:
        on_disk = open(path).read() if os.path.exists(path) else ""
        if on_disk != text:
            print("COVERAGE.md is stale — rerun: python tools/coverage_ledger.py")
            return 1
        print("COVERAGE.md is current")
        return 0
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
