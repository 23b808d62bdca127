"""Size-gated broadcast hints for sf-proportional dimension tables.

A forced ``F.broadcast`` hint overrides AQE's size-based join planning.
That is correct for genuinely bounded frames (``nation``/``region``,
1-row scalar aggregates) but a scale hazard for TPC-H-style dimensions:
``customer``/``supplier``/``part`` grow linearly with the scale factor,
and at the 100 TB design point a forced multi-GB broadcast is a
driver/executor OOM, not merely a slow plan.

``broadcast_dim`` applies the hint only while Catalyst's driver-side
size estimate for the frame fits under a threshold; above it the frame
is returned unhinted so AQE keeps full authority (it will still pick a
broadcast join at runtime whenever the *actual* built side is small).
This is the dimension-table sibling of the query-batch gate in
``operators/similarity.py::_ivf_probe_candidates`` (r9 VERDICT item 2):
one helper, one threshold, no per-construction Spark job.

Why a *stats* gate and not a count: ``optimizedPlan().stats()`` is pure
driver-side plan analysis — parquet relations report file-size-derived
bytes and projections scale by row width, so the gate costs zero jobs
even when the query object is rebuilt hundreds of times (bench,
registry sweeps). The estimate is only trustworthy for scan/filter/
project subtrees, though: Spark's size-only visitor *multiplies* child
sizes across a join and passes the inflated number through aggregates,
so for decorrelated frames (per-key aggregates built on top of a join,
e.g. TPC-H Q17's per-part threshold table) callers pass ``gate_on=`` —
the scan-level frame whose key domain bounds the derived frame's
cardinality (``thresholds``'s keys ⊆ ``bparts``'s, so ``bparts``'s scan
stats are a sound proxy).

``plan_sized_count`` reads the same zero-job estimate to size a
parallelism width (``chunked_running_sum``'s chunks, ``inverted_index``'s
salts): one unit per byte budget, clamped.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The broadcast_dim gate. Catalyst's estimate inflates on-disk parquet by
# the decompression factor, so this is an *estimated-plan-bytes* budget,
# not a wire-size cap. 256 MiB keeps every sf<=1 dimension hinted while
# refusing anything that would be a multi-GB build side on a real cluster.
DEFAULT_DIM_BROADCAST_BYTES = 256 * 1024 * 1024


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes — driver-side plan
    analysis only, never a Spark job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # type: ignore[attr-defined]


def plan_sized_count(
    df: DataFrame, bytes_per_unit: int, lo: int, hi: int, fallback: int
) -> int:
    """One unit per ``bytes_per_unit`` of ``df``'s plan-size estimate,
    rounded up and clamped to ``[lo, hi]`` — a parallelism width that
    keeps each task's share flat as the input grows, at zero jobs.
    ``fallback`` when there is no estimate (streaming side etc.)."""
    try:
        est = estimated_plan_bytes(df)
    except Exception:
        return fallback
    return min(hi, max(lo, -(-est // bytes_per_unit)))


def broadcast_dim(df: DataFrame, gate_on: DataFrame | None = None) -> DataFrame:
    """Broadcast-hint ``df`` only while its size estimate fits the gate.

    ``gate_on``: frame whose stats stand in for ``df``'s when ``df``'s own
    estimate is unusable (anything containing a join — Spark's size-only
    stats visitor multiplies across joins). Must be a frame whose key
    domain bounds ``df``'s cardinality, typically the filtered dimension
    scan ``df`` was derived from.

    The gate is ``DEFAULT_DIM_BROADCAST_BYTES``. Above it the frame is
    returned unhinted (AQE decides) and a warning names the frame so a
    silent plan change is impossible — mirrors ``cap_cell_sizes``'s
    fires-loudly contract.
    """
    probe = gate_on if gate_on is not None else df
    try:
        est = estimated_plan_bytes(probe)
    except Exception:
        # No usable estimate (uncacheable plan shape, streaming side):
        # do NOT force the hint on an unknown-size frame — AQE decides.
        warnings.warn(
            "broadcast_dim: no size estimate available; leaving the join "
            "unhinted for AQE",
            stacklevel=2,
        )
        return df
    if est > DEFAULT_DIM_BROADCAST_BYTES:
        warnings.warn(
            f"broadcast_dim: estimated {est} bytes exceeds the "
            f"{DEFAULT_DIM_BROADCAST_BYTES}-byte gate; leaving the join "
            "unhinted for AQE",
            stacklevel=2,
        )
        return df
    return F.broadcast(df)
