"""Distribution-drift checks: KS and PSI against a baseline snapshot
(SURVEY.md §2.3 "sketches" row; north_star: "KS/PSI distribution-drift
checks on dur_ms and sr_hz against a baseline snapshot").

A *snapshot* is a tiny mergeable summary per column, computed in two
map-side-combinable aggregation passes (no row-level shuffle — only
partial aggregates move):

* ``quantiles`` — 101 evenly spaced approximate quantiles
  (``percentile_approx``, Spark's built-in mergeable quantile sketch),
* ``histogram`` — counts over fixed bins of a declared [lo, hi) range
  (bucket index computed once per row, counted via explode + groupBy
  with partial aggregation — see ``snapshot``),
* ``n`` — row count.

Snapshots are a few KB; KS (from the two quantile functions) and PSI (from
the two normalized histograms) are computed driver-side in numpy. Snapshots
round-trip through parquet so a previous run's snapshot is the baseline.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Mapping, Sequence

import numpy as np

from pyspark.sql import DataFrame

from .. import sqltext as sx
from ..sinks.writers import local_frame

N_QUANTILES = 101
SNAPSHOT_SCHEMA = ("col_name string, n long, lo double, hi double, "
                   "quantiles array<double>, histogram array<long>")


@dataclass
class HistSpec:
    """Fixed-bin histogram declaration for one column."""
    lo: float
    hi: float
    bins: int = 32


def snapshot(df: DataFrame, specs: Dict[str, HistSpec],
             accuracy: int = 2500) -> DataFrame:
    """Per-column snapshot rows: one aggregation pass for count +
    quantile sketches, one bucket-and-count pass for ALL histograms.

    The histogram pass computes each row's bucket index ONCE and counts
    via explode + groupBy — O(1) work per (row, column) with map-side
    combine, so at most tasks × bins partial rows ever shuffle. (The
    previous form rode the single agg as bins+2 conditional sums — O(bins)
    CASE evaluations per row, which dominated the snapshot cost: 3.1 s vs
    ~0.5 s for 82 bins over 400k rows.)

    ``accuracy`` is the ``percentile_approx`` relative-rank error bound
    (1/accuracy); 2500 perturbs the derived KS statistic by ≤ ~0.01
    against a 0.1 threshold at half the sketch cost of 10000.

    Both aggregates are SQL text (see ``sqltext``): the 101 quantile
    probabilities cross to the JVM in one parse, not one call each."""
    ps = sx.array(*[i / (N_QUANTILES - 1) for i in range(N_QUANTILES)])
    exprs = ["count(1) AS `rows`"]
    for c in specs:
        q = sx.call("percentile_approx", sx.col(c).cast("double"), ps,
                    accuracy)
        exprs.append(f"{q.sql} AS {sx.quote(f'{c}__q')}")
    row = df.selectExpr(*exprs).collect()[0].asDict()
    n = int(row["rows"])

    buckets = []
    for c, spec in specs.items():
        col = sx.col(c).cast("double")
        w = (spec.hi - spec.lo) / spec.bins
        bucket = sx.when(col < spec.lo, -1).when(col >= spec.hi, spec.bins) \
            .otherwise(sx.floor((col - spec.lo) / w))
        buckets.append(sx.struct({"col_name": c,
                                  "bin": bucket.cast("int")}))
    counts = (df.selectExpr(f"explode({sx.array(*buckets).sql}) AS p")
              .selectExpr("p.col_name", "p.bin")
              .where("bin IS NOT NULL")  # nulls uncounted, as before
              .groupBy("col_name", "bin")
              .count()
              .collect())
    hists = {(r["col_name"], int(r["bin"])): int(r["count"])
             for r in counts}
    out = []
    for c, spec in specs.items():
        hist = [hists.get((c, i), 0) for i in range(-1, spec.bins + 1)]
        qs = row[f"{c}__q"]
        out.append((c, n, float(spec.lo), float(spec.hi),
                    [float(x) for x in qs] if qs else None, hist))
    return local_frame(df.sparkSession, out, SNAPSHOT_SCHEMA)


def ks_from_quantiles(q_base: Sequence[float],
                      q_cur: Sequence[float]) -> float:
    """Two-sample KS statistic approximated from two quantile functions:
    sup over the merged support of |CDF_base(v) - CDF_cur(v)|, with each
    CDF read off its (p_i → q_i) sketch by inverse interpolation."""
    qb = np.asarray(q_base, dtype=float)
    qc = np.asarray(q_cur, dtype=float)
    ps = np.linspace(0.0, 1.0, len(qb))
    pc = np.linspace(0.0, 1.0, len(qc))
    grid = np.unique(np.concatenate([qb, qc]))

    def cdf(qs, p, v):
        # qs is nondecreasing; CDF(v) = p at the last quantile <= v
        idx = np.searchsorted(qs, v, side="right")
        out = np.empty_like(v, dtype=float)
        out[:] = p[np.clip(idx - 1, 0, len(p) - 1)]
        out[v < qs[0]] = 0.0
        out[v >= qs[-1]] = 1.0
        return out

    return float(np.max(np.abs(cdf(qb, ps, grid) - cdf(qc, pc, grid))))


def psi_from_histograms(h_base: Sequence[int], h_cur: Sequence[int],
                        eps: float = 1e-4) -> float:
    """Population Stability Index over matching fixed bins, with epsilon
    smoothing for empty bins. Common rule of thumb: <0.1 stable,
    0.1-0.25 moderate shift, >0.25 major shift."""
    b = np.asarray(h_base, dtype=float)
    c = np.asarray(h_cur, dtype=float)
    if b.sum() == 0 or c.sum() == 0:
        return 0.0
    pb = np.clip(b / b.sum(), eps, None)
    pc = np.clip(c / c.sum(), eps, None)
    pb = pb / pb.sum()
    pc = pc / pc.sum()
    return float(np.sum((pc - pb) * np.log(pc / pb)))


def assert_baseline_spec_compatible(baseline: DataFrame | Mapping,
                                    specs: Dict[str, HistSpec]) -> None:
    """Driver-side preflight: the baseline snapshot's recorded (lo, hi,
    bins) must match the CURRENT HistSpecs for every shared column.
    Snapshots are tiny (one row per column) so this costs one
    milliseconds-scale collect — run it BEFORE the expensive scans, so a
    stale baseline fails a 10^12-row job at submit time, not after the
    last partition group finished (drift_check keeps the same guard as
    defense in depth for direct callers). Columns only one side knows
    are not an error — drift_check surfaces them as explicit
    not-evaluated rows. ``baseline`` is a snapshot frame, or its rows by
    column name."""
    rows = baseline if isinstance(baseline, Mapping) else {
        r["col_name"]: r for r in baseline.collect()}
    bad = []
    for c, spec in specs.items():
        r = rows.get(c)
        if r is None:
            continue
        if (float(r["lo"]), float(r["hi"]), len(r["histogram"])) != \
                (float(spec.lo), float(spec.hi), spec.bins + 2):
            bad.append(
                f"`{c}` baseline lo={r['lo']} hi={r['hi']} "
                f"bins={len(r['histogram']) - 2} vs current lo={spec.lo} "
                f"hi={spec.hi} bins={spec.bins}")
    if bad:
        raise ValueError(
            "drift baseline was built with a different histogram spec: "
            + "; ".join(bad) + " — rebuild the baseline snapshot with "
            "the current HistSpecs")


def drift_check(current: DataFrame, baseline: DataFrame,
                ks_threshold: float = 0.1,
                psi_threshold: float = 0.25) -> DataFrame:
    """Compare two snapshot frames column by column; returns one row per
    column with the KS and PSI statistics and pass/fail verdicts in the
    engine's violation shape. Snapshot frames are tiny — the comparison
    is driver-side numpy."""
    cur = {r["col_name"]: r for r in current.collect()}
    base = {r["col_name"]: r for r in baseline.collect()}
    # PSI over misaligned bins is a meaningless number, not a drift
    # verdict — this is a config error, fail loudly
    assert_baseline_spec_compatible(base, {
        c: HistSpec(r["lo"], r["hi"], len(r["histogram"]) - 2)
        for c, r in cur.items()})
    out = []
    for c in sorted(set(cur) - set(base)):
        # a monitored column with no baseline is NOT silently skipped —
        # a user adding a column to DRIFT_SPECS against a stale baseline
        # must see it was never evaluated (pass: nothing to compare yet)
        out.append((c, None, None, True, True, True,
                    f"field `{c}` has no baseline snapshot — drift not "
                    "evaluated"))
    for c in sorted(set(base) - set(cur)):
        # ... and the mirror: a baseline column that vanished from the
        # current snapshot (dropped from the specs, or the column is
        # gone) surfaces instead of monitoring silently stopping
        out.append((c, None, None, True, True, True,
                    f"field `{c}` has a baseline but no current "
                    "snapshot — drift no longer evaluated"))
    for c in sorted(set(cur) & set(base)):
        rc, rb = cur[c], base[c]
        # an EMPTY side is a verdict of its own, never a silent pass:
        # psi_from_histograms returns 0.0 when either histogram is all
        # zeros and KS is skipped when a quantile sketch is null, so an
        # all-NULL/empty current column — a total data outage, the most
        # drifted state possible — would otherwise sail through green
        base_has = sum(rb["histogram"]) > 0
        cur_has = sum(rc["histogram"]) > 0
        if base_has and not cur_has:
            out.append((c, None, None, False, False, False,
                        f"field `{c}` has no data in the current "
                        "snapshot (empty table or all-NULL column) but "
                        "the baseline has — total outage, not drift-"
                        "free"))
            continue
        if not base_has:
            # a data-less baseline can't support a verdict either way;
            # surface it like the missing-baseline rows (not evaluated)
            out.append((c, None, None, True, True, True,
                        f"field `{c}` has no data in the baseline "
                        "snapshot — drift not evaluated"))
            continue
        ks = (ks_from_quantiles(rb["quantiles"], rc["quantiles"])
              if rb["quantiles"] and rc["quantiles"] else None)
        psi = psi_from_histograms(rb["histogram"], rc["histogram"])
        ks_ok = ks is None or ks <= ks_threshold
        psi_ok = psi <= psi_threshold
        out.append((c, ks, psi, bool(ks_ok), bool(psi_ok),
                    bool(ks_ok and psi_ok),
                    f"field `{c}` drift ks={ks if ks is not None else -1:.4f}"
                    f" psi={psi:.4f} thresholds ks<={ks_threshold}"
                    f" psi<={psi_threshold}"))
    return local_frame(
        current.sparkSession, out,
        "col_name string, ks double, psi double, ks_pass boolean, "
        "psi_pass boolean, pass boolean, message string")
