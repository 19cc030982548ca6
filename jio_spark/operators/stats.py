"""Single-pass per-column statistics (SURVEY.md §2.3 "aggregation" row).

The reference has no aggregation at all; the engine computes, in ONE
whole-table aggregation that can ride the validation scan:

count, null count / null rate, min, max, mean, approximate quantiles
(``percentile_approx`` — a mergeable KLL/GK-style sketch built into Spark),
and distinct estimate (``approx_count_distinct`` — HyperLogLog++).

All expressions are map-side combinable: at 10^12 rows the reduced state is
a few KB per column; no row-level shuffle happens. Use ``stats_exprs`` to
piggyback the stats onto an existing pass via ``df.agg`` or ``df.observe``
(one source read total, SURVEY.md §4.2)."""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import sqltext as sx

DEFAULT_QUANTILES = [0.0, 0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0]

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def stats_exprs(df: DataFrame, columns: Optional[Sequence[str]] = None,
                quantiles: Optional[Sequence[float]] = DEFAULT_QUANTILES,
                accuracy: int = 10000,
                hll_sketch: bool = False,
                kll_quantiles: bool = False) -> List[Column]:
    """Aggregate expressions for one single-pass stats computation.

    Numeric columns get min/max/mean/quantile-sketch; every column gets
    count/nulls/approx-distinct. Binary columns get total/avg byte size
    instead of min/max (relevant for the audio ``bytes`` column).
    ``quantiles=None`` skips the finalized ``percentile_approx`` arrays —
    use this when the results of several passes are merged driver-side
    (count/min/max/mean merge exactly; FINALIZED quantile arrays do not —
    pass ``kll_quantiles=True`` to carry mergeable sketches instead).

    ``hll_sketch=True`` additionally emits a MERGEABLE Datasketches HLL
    sketch (``{c}__hll``, ~1-2 KB binary) for integral/string columns:
    unlike ``approx_count_distinct`` (whose per-pass results can only be
    lower-bounded by max), these sketches union exactly across partition
    groups — see ``runner._merge_observed_stats``. Other types keep the
    lower-bound behavior (hll_sketch_agg accepts only INT/BIGINT/STRING/
    BINARY).

    ``kll_quantiles=True`` emits a MERGEABLE Datasketches KLL doubles
    sketch (``{c}__kll``) per numeric column; merged cross-group, it
    yields whole-table quantiles (default k=200 → ~1.7% rank error) —
    the north star's "approx-quantile sketches" with exact-merge
    semantics across partition groups."""
    cols = list(columns) if columns is not None else df.columns
    # SQL text (see ``sqltext``): each aggregate crosses to the JVM in
    # one parse, not one call per expression node
    aggs = {"rows": sx.call("count", 1)}
    for c in cols:
        dt = df.schema[c].dataType
        col = sx.col(c)
        aggs[f"{c}__nulls"] = sx.call("sum", col.isNull().cast("bigint"))
        if isinstance(dt, T.BinaryType):
            aggs[f"{c}__bytes"] = sx.call("sum", sx.octet_length(col))
            aggs[f"{c}__avg_bytes"] = sx.call("avg", sx.octet_length(col))
        elif hll_sketch and isinstance(dt, (*_INTEGRAL, T.StringType)):
            # the mergeable sketch REPLACES approx_count_distinct for
            # sketchable columns: keeping both would maintain two HLL
            # structures per row on the hot scan for a per-group number
            # strictly dominated by the union-merged estimate
            hcol = col.cast("bigint") if isinstance(dt, _INTEGRAL) else col
            aggs[f"{c}__hll"] = sx.call("hll_sketch_agg", hcol)
        else:
            aggs[f"{c}__distinct"] = sx.call("approx_count_distinct", col)
        if isinstance(dt, _NUMERIC):
            for stat, fn in (("min", "min"), ("max", "max"),
                             ("mean", "avg")):
                aggs[f"{c}__{stat}"] = sx.call(fn, col)
            if quantiles is not None:
                aggs[f"{c}__quantiles"] = sx.call(
                    "percentile_approx", col, sx.array(*quantiles),
                    accuracy)
            if kll_quantiles:
                aggs[f"{c}__kll"] = sx.call("kll_sketch_agg_double",
                                            col.cast("double"))
        elif isinstance(dt, T.StringType):
            for stat, fn in (("min_len", "min"), ("max_len", "max"),
                             ("mean_len", "avg")):
                aggs[f"{c}__{stat}"] = sx.call(fn, sx.call("length", col))
    return [F.expr(f"{e.sql} AS {sx.quote(name)}")
            for name, e in aggs.items()]


def column_profile_exact(df: DataFrame,
                         columns: Optional[Sequence[str]] = None
                         ) -> DataFrame:
    """One row per column of EXACT stats only: (col_name, count, nulls,
    null_rate, min, max, mean) — everything a SQL engine reproduces
    bit-for-bit (mean rounded to 4 decimals to absorb partial-agg
    summation order). The approximate sketches (HLL distinct, quantile
    sketch) live in :func:`column_stats`; splitting them keeps this frame
    fully oracle-checkable while the sketches stay a rows-only check.

    Same execution shape as ``column_stats``: a single whole-table
    aggregation (map-side combinable, few-KB reduced state) reshaped
    driver-side."""
    cols = list(columns) if columns is not None else df.columns
    exprs: List[Column] = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        col = F.col(c)
        exprs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        if isinstance(df.schema[c].dataType, _NUMERIC):
            exprs += [
                F.min(col).cast("double").alias(f"{c}__min"),
                F.max(col).cast("double").alias(f"{c}__max"),
                # avg over the double-cast input: a DecimalType column
                # would otherwise produce a Decimal mean that the
                # DoubleType output field rejects
                F.round(F.avg(col.cast("double")), 4)
                 .alias(f"{c}__mean"),
            ]
    row = df.agg(*exprs).collect()[0]
    d = row.asDict()
    n = int(d["rows"])
    out = []
    for c in cols:
        nulls = int(d.get(f"{c}__nulls") or 0)
        out.append((c, n, nulls, (nulls / n) if n else 0.0,
                    d.get(f"{c}__min"), d.get(f"{c}__max"),
                    d.get(f"{c}__mean")))
    return df.sparkSession.createDataFrame(
        out,
        "col_name string, count long, nulls long, null_rate double, "
        "min double, max double, mean double")


def column_stats_bounds(df: DataFrame,
                        columns: Optional[Sequence[str]] = None,
                        quantiles: Sequence[float] = DEFAULT_QUANTILES,
                        accuracy: int = 10000,
                        rsd_margin: float = 4.0) -> DataFrame:
    """Verification face of the approximate sketches: one row per column
    with booleans asserting each sketch landed inside its published error
    bound against the EXACT statistic computed in the same single
    aggregation.

    * ``distinct_ok`` — |approx_count_distinct − count(distinct)| ≤
      ``rsd_margin``·rsd·exact + 2 (HLL++ default rsd = 0.05; four
      standard deviations plus integer slack).
    * ``quantiles_ok`` — every ``percentile_approx`` output lies between
      the exact interpolated percentiles at p ± (1/accuracy + 3/nn),
      where ``nn`` is the column's NON-NULL count (both percentile
      functions operate over non-null values only — slack derived from
      the total row count understates the rank width of one order
      statistic on a high-null column and false-flags a healthy sketch):
      the sketch guarantees rank error ≤ nn/accuracy but returns an
      ACTUAL data value, so its rank can additionally sit a couple of
      order statistics away from the interpolated exact percentile — the
      3-row absolute slack absorbs that at any nn. Non-numeric columns
      have no sketch — vacuously true.

    The exact sides (count distinct, exact percentile) are full-shuffle /
    full-sort operations — affordable for a verification query, never the
    10^12-row production path (that is :func:`column_stats`). The
    non-null counts add one cheap first pass (this is already a
    multi-aggregation verification query). Because the booleans hold at
    ANY scale factor, the frame is fully oracle-checkable as literal
    TRUE rows."""
    cols = list(columns) if columns is not None else df.columns
    rsd = 0.05
    qs = list(quantiles)
    numeric = {c: isinstance(df.schema[c].dataType, _NUMERIC) for c in cols}
    nn_exprs = [F.count(F.col(c)).alias(c) for c in cols if numeric[c]]
    # agg() requires ≥1 expr — a strings-only frame has no sketch to
    # bound, so it needs no non-null counts either
    nn = df.agg(*nn_exprs).collect()[0].asDict() if nn_exprs else {}
    aggs: List[Column] = []
    for c in cols:
        col = F.col(c)
        aggs += [F.approx_count_distinct(col).alias(f"{c}__acd"),
                 F.count_distinct(col).alias(f"{c}__cd")]
        if numeric[c]:
            nn_c = int(nn.get(c) or 0)
            eps = 1.0 / accuracy + (3.0 / nn_c if nn_c else 0.0)
            lo_ps = [max(0.0, p - eps) for p in qs]
            hi_ps = [min(1.0, p + eps) for p in qs]
            d = col.cast("double")
            aggs += [
                F.percentile_approx(d, qs, accuracy).alias(f"{c}__pa"),
                F.percentile(d, F.array(*[F.lit(p) for p in lo_ps]))
                 .alias(f"{c}__lo"),
                F.percentile(d, F.array(*[F.lit(p) for p in hi_ps]))
                 .alias(f"{c}__hi"),
            ]
    row = df.agg(*aggs).collect()[0].asDict()
    out = []
    for c in cols:
        acd, cd = int(row[f"{c}__acd"]), int(row[f"{c}__cd"])
        distinct_ok = abs(acd - cd) <= rsd_margin * rsd * cd + 2
        if numeric[c]:
            pa, lo, hi = (row[f"{c}__pa"], row[f"{c}__lo"], row[f"{c}__hi"])
            slack = 1e-9
            if pa is None:
                # an all-NULL column (or empty frame) has NO sketch at
                # all — percentile_approx returns a null ARRAY, so the
                # bound holds vacuously rather than zip(None,...) crash
                quantiles_ok = lo is None and hi is None
            else:
                quantiles_ok = all(
                    (l is None and h is None) or
                    (l - slack <= a <= h + slack)
                    for a, l, h in zip(pa, lo, hi))
        else:
            quantiles_ok = True
        out.append((c, bool(distinct_ok), bool(quantiles_ok)))
    return df.sparkSession.createDataFrame(
        out, "col_name string, distinct_ok boolean, quantiles_ok boolean")


def column_stats(df: DataFrame, columns: Optional[Sequence[str]] = None,
                 quantiles: Sequence[float] = DEFAULT_QUANTILES,
                 accuracy: int = 10000) -> DataFrame:
    """One row per column: (col_name, count, nulls, null_rate, distinct,
    min, max, mean, quantiles, total_bytes, avg_bytes, min_len, max_len,
    mean_len) — computed in a single aggregation and reshaped driver-side
    (the agg result is one tiny row). ``total_bytes``/``avg_bytes`` are
    the binary columns' payload-size stats, ``*_len`` the string columns'
    character-length stats (null elsewhere) — binary/string columns have
    no min/max/mean, and an aggregate the scan paid for must reach the
    output, not be silently dropped."""
    cols = list(columns) if columns is not None else df.columns
    row = df.agg(*stats_exprs(df, cols, quantiles, accuracy)).collect()[0]
    d = row.asDict()
    n = int(d["rows"])
    out = []
    for c in cols:
        nulls = int(d.get(f"{c}__nulls") or 0)
        qs = d.get(f"{c}__quantiles")
        out.append((
            c, n, nulls, (nulls / n) if n else 0.0,
            int(d[f"{c}__distinct"]) if f"{c}__distinct" in d and
            d[f"{c}__distinct"] is not None else None,
            float(d[f"{c}__min"]) if d.get(f"{c}__min") is not None else None,
            float(d[f"{c}__max"]) if d.get(f"{c}__max") is not None else None,
            float(d[f"{c}__mean"]) if d.get(f"{c}__mean") is not None
            else None,
            [float(x) for x in qs] if qs is not None else None,
            int(d[f"{c}__bytes"]) if d.get(f"{c}__bytes") is not None
            else None,
            float(d[f"{c}__avg_bytes"])
            if d.get(f"{c}__avg_bytes") is not None else None,
            int(d[f"{c}__min_len"]) if d.get(f"{c}__min_len") is not None
            else None,
            int(d[f"{c}__max_len"]) if d.get(f"{c}__max_len") is not None
            else None,
            float(d[f"{c}__mean_len"])
            if d.get(f"{c}__mean_len") is not None else None,
        ))
    return df.sparkSession.createDataFrame(
        out,
        "col_name string, count long, nulls long, null_rate double, "
        "approx_distinct long, min double, max double, mean double, "
        "quantiles array<double>, total_bytes long, avg_bytes double, "
        "min_len long, max_len long, mean_len double")
