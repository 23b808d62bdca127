"""Correctness checks: program outputs against the generator's planted truth.

Each check returns a list of mismatch descriptions; an empty list passes.
"""

from __future__ import annotations

from collections import Counter

import gen


def _diff(name: str, want, got) -> list[str]:
    return [] if want == got else [f"{name}: expected {want!r}, got {got!r}"]


def check_backlog(truths: list[dict], n_dropped: int, rows: list[tuple], input_lines: int) -> list[str]:
    """A drained backlog. ``rows`` is (label, rows, distinct users, null
    event_ts) per label read back from the sink; ``input_lines`` counts
    every line of the backlog files."""
    got = {r[0]: r for r in rows}
    want = Counter(t["label"] for t in truths)
    out = _diff("label counts", dict(want), {k: r[1] for k, r in got.items()})
    committed = sum(r[1] for r in rows)
    out += _diff("distinct users (each post committed once)", len(truths), sum(r[2] for r in rows))
    out += _diff("rows with unparseable timestamp", sum(t["ts"] is None for t in truths),
                 sum(r[3] for r in rows))
    out += _diff("rows dropped by the P1 filter", n_dropped, input_lines - committed)
    return out


def check_dashboard(want: dict, got: dict, tol: float = 2e-6) -> list[str]:
    """Every panel of one refresh against ``gen.dashboard_truth``."""
    out = []
    for key in want:
        w, g = want[key], got.get(key)
        if key == "clock_rows":
            continue
        if key == "hours":
            # generated hours exactly, plus one bucket at the refresh's clock
            # holding the posts whose timestamp did not parse
            got_h = dict(g or [])
            out += _diff("hourly counts", dict(w), {h: got_h.get(h) for h, _ in w})
            extra = sorted(n for h, n in got_h.items() if h not in dict(w))
            out += _diff("rows on the refresh clock", [want["clock_rows"]] if want["clock_rows"] else [], extra)
        elif key.startswith("avg_"):
            if g is None or abs(w - g) > tol:
                out.append(f"{key}: expected {w}, got {g}")
        else:
            out += _diff(key, w, g)
    return out


def check_windows(want: dict, got: dict) -> list[str]:
    """Final per-(window start, label) counts of a watermarked window query
    against ``gen.window_feed``'s: on-time and late-inside posts counted,
    late-beyond posts never."""
    wrong = sorted(k for k in want.keys() | got.keys() if want.get(k) != got.get(k))
    if not wrong:
        return []
    return [f"window counts differ on {len(wrong)} of {len(want)} keys, e.g. "
            + ", ".join(f"{k}: expected {want.get(k)}, got {got.get(k)}" for k in wrong[:3])]


def check_corpus(c: dict, kept: set[int], final: set[int], threshold: float = 0.8) -> tuple[list[str], float]:
    """A cleaned corpus. Returns (mismatches, planted near-dup recall).

    - ``kept`` holds only docs that pass language, quality and exact dedup;
    - every doc the near-dup stage removed has Jaccard >= ``threshold``
      with a surviving doc of smaller id (no pair below it was removed);
    - ``final`` is ``kept`` minus exactly the docs whose benchmark 5-gram
      overlap exceeds 10 %.
    """
    survivors = gen.exact_survivors(c)
    texts = {d["doc_id"]: d["text"] for d in c["docs"]}
    out = []
    extra = kept - survivors
    if extra:
        out.append(f"{len(extra)} kept docs fail language/quality/exact dedup, e.g. {sorted(extra)[:5]}")
    removed = survivors - kept
    sh = {}

    def shingles(i):
        if i not in sh:
            sh[i] = gen.shingles(texts[i], 3)
        return sh[i]

    for i in sorted(removed):
        partners = [c["near_of"][i]] if i in c["near_of"] else sorted(j for j in survivors if j < i)
        if not any(gen.jaccard(shingles(i), shingles(j)) >= threshold for j in partners):
            out.append(f"doc {i} removed as a near-dup without a pair >= {threshold}")
    planted = [i for i in c["near_of"] if i in survivors]
    recall = sum(i in removed for i in planted) / len(planted) if planted else 1.0
    dirty = gen.contaminated({i: texts[i] for i in kept}, c["bench"])
    out += _diff("decontaminated kept set size", len(kept - dirty), len(final))
    if final != kept - dirty:
        out.append(f"decontaminated set differs on {len(final ^ (kept - dirty))} docs")
    return out, recall
