"""Uniqueness check on an id column without a full-table shuffle.

The north-star check (BASELINE.json: "uniqueness on clip_id
(sort-within-partition + boundary exchange to avoid full shuffle)"):

1. ``sortWithinPartitions(key)`` — local sort, NO exchange.
2. an Arrow-batched ``mapInPandas`` scan finds duplicate runs inside each
   partition and emits each partition's first/last run (the only runs that
   can continue into a neighboring partition),
3. the boundary runs — exactly two tiny rows per partition — are exchanged
   to the driver and merged across consecutive partitions.

This is exact whenever each key's occurrences are confined to one
partition or to a consecutive partition range — i.e. the table layout is
key-clustered: Iceberg tables bucketed or sort-ordered on clip_id, or any
globally-sorted write. That is the intended 10^12-row layout. For arbitrary
layouts use ``uniqueness_check(df, key, layout="any")``, which falls back to
``groupBy(key)`` — still cheap when duplicates are rare because Spark's
partial aggregation collapses unique keys map-side, but it shuffles the
key column.

The clustered assumption is never TRUSTED blindly: the boundary rows
already on the driver carry each sorted partition's (min, max) key, so
every run computes a free exactness certificate (consecutive range
overlap in range-sorted order — see ``_clustered_certificate``), the
chain itself runs in range order (robust to Spark's size-ordered split
scheduling scrambling pids), and ``on_unclustered`` picks
warn / error / trust / (check-level) fallback-to-groupBy when the
certificate refuses.

Only duplicate *candidates* ever leave their partition; for a
99.9%-unique table the exchanged data is ~0.1% of keys + 2 rows/partition.
"""

from __future__ import annotations

import warnings
from typing import Dict, Iterator, List, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..sinks.writers import local_frame


def _scan_schema(df: DataFrame, key: str) -> str:
    key_type = df.schema[key].dataType.simpleString()
    return (f"pid long, key {key_type}, cnt long, kind string")


def _adjacent_scan(key: str):
    """Per-partition generator: emits interior duplicate runs (kind='dup')
    and the partition's first and last runs (kind='first'/'last'/'whole')
    for the boundary merge."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        first_key = None
        first_cnt = 0
        first_open = True     # still extending the partition-initial run
        cur_key = None
        cur_cnt = 0
        out_keys: List = []
        out_cnts: List[int] = []
        out_kinds: List[str] = []
        saw_any = False

        def close_run():
            nonlocal first_open, first_key, first_cnt
            if first_open:
                first_key, first_cnt = cur_key, cur_cnt
                first_open = False
            elif cur_cnt > 1:
                out_keys.append(cur_key)
                out_cnts.append(cur_cnt)
                out_kinds.append("dup")

        for pdf in batches:
            vals = pdf[key].values
            saw_any = saw_any or len(vals) > 0
            for v in vals:
                if cur_key is not None and v == cur_key:
                    cur_cnt += 1
                else:
                    if cur_key is not None:
                        close_run()
                    cur_key, cur_cnt = v, 1
        if saw_any:
            # the final run is the partition's last run; if it is also the
            # first run the whole partition is one key
            if first_open:
                out_keys.append(cur_key)
                out_cnts.append(cur_cnt)
                out_kinds.append("whole")
            else:
                out_keys.append(first_key)
                out_cnts.append(first_cnt)
                out_kinds.append("first")
                out_keys.append(cur_key)
                out_cnts.append(cur_cnt)
                out_kinds.append("last")
        yield pd.DataFrame({"pid": [pid] * len(out_keys), "key": out_keys,
                            "cnt": out_cnts, "kind": out_kinds})

    return scan


def _py(v):
    """numpy scalar → plain Python (the certificate travels into JSON
    run metrics; np.int64 would crash json.dumps)."""
    return v.item() if hasattr(v, "item") else v


def _clustered_certificate(by_pid: Dict, pids: List) -> Dict:
    """Runtime exactness certificate for the boundary-exchange path,
    computed from rows ALREADY on the driver — zero extra cost.

    After ``sortWithinPartitions``, each partition's first/last run keys
    ARE its min/max (non-null) key, so the boundary rows carry every
    partition's key range. The chain merge is exact iff consecutive
    ranges (in the (min, max)-sorted order the caller also chains in) do
    not overlap (``max_i <= min_{i+1}``, equality allowed — that is
    precisely the boundary the chain merges); consecutive monotonicity
    implies global monotonicity by transitivity. When the
    check fails the layout is NOT key-clustered and a
    duplicated key can be silently undercounted (concretely: an interior
    count-1 run is emitted nowhere, so a key occurring once mid-partition
    and again in another partition loses that occurrence; boundary runs
    DO merge by key across any distance, making the certificate
    conservative) — the exact trap this turns into an explicit signal.
    Ranges are compared (and the caller chains) in RANGE-sorted order,
    not partition-id order: Spark schedules splits by size, so reading a
    sort-ordered table yields range-disjoint partitions in scrambled pid
    order (e.g. one big sorted file split into row-group chunks) — those
    stay certified and exact. (Layouts that are exact for reasons the
    ranges cannot show — hash-bucketed key-disjoint partitions, or any
    write that keeps each duplicated key's copies inside one read unit,
    e.g. a range-partitioned write where equal keys colocate per file —
    declare ``on_unclustered='trust'``.)"""
    rng = []
    for pid in pids:
        runs = by_pid[pid]
        if "whole" in runs:
            k = runs["whole"][0]
            rng.append((pid, k, k))
        else:
            rng.append((pid, runs["first"][0], runs["last"][0]))
    overlaps = []
    for (apid, _amin, amax), (bpid, bmin, _bmax) in zip(rng, rng[1:]):
        if amax > bmin:
            overlaps.append({"pid_a": _py(apid), "max_a": _py(amax),
                             "pid_b": _py(bpid), "min_b": _py(bmin)})
    return {"clustered_certified": not overlaps,
            "partitions": len(rng),
            "overlap_count": len(overlaps),
            "overlaps": overlaps[:5]}


def duplicate_ids(df: DataFrame, key: str,
                  on_unclustered: str = "warn",
                  certificate: Optional[Dict] = None) -> DataFrame:
    """Keys appearing more than once, with their counts — exact for
    key-clustered layouts (see module docstring). Returns a DataFrame
    ``(key, cnt)``.

    The clustered assumption is VERIFIED per run via the free range
    certificate (:func:`_clustered_certificate`): ``on_unclustered``
    picks what happens when it fails — ``'warn'`` (default) emits a
    ``RuntimeWarning`` and returns the possibly-undercounting result,
    ``'error'`` raises, ``'trust'`` skips the signal (for hash-bucketed
    key-disjoint layouts, which are exact but not range-monotone).
    Pass a dict as ``certificate`` to receive the verdict either way."""
    if on_unclustered not in ("warn", "error", "trust"):
        raise ValueError("on_unclustered must be 'warn', 'error' or "
                         f"'trust', got {on_unclustered!r} "
                         "('fallback' exists one level up, on "
                         "uniqueness_check, which can rerun via groupBy)")
    spark = df.sparkSession
    # NULL keys are filtered BEFORE the scan, not after: they are
    # documented non-violations on either path, and a nullable NUMERIC
    # key would otherwise reach pandas as float64-with-NaN (Arrow's
    # nulls-in-int64 conversion) — NaN boundary keys crash the
    # integer-typed scan schema, and the float coercion silently loses
    # precision on >2^53 keys, merging runs of DISTINCT keys. The filter
    # is per-partition, so a clustered layout stays clustered.
    scan = (df.select(key)
              .where(F.col(key).isNotNull())
              .sortWithinPartitions(key)
              .mapInPandas(_adjacent_scan(key), _scan_schema(df, key)))
    # eager localCheckpoint: the (tiny) scan result materializes ONCE and
    # serves both the boundary collect below and the interior branch the
    # caller later consumes — a cache() + finally-unpersist() here would
    # drop the blocks before the caller ran, recomputing the sorted scan
    scan = scan.localCheckpoint(eager=True)
    interior = scan.where(F.col("kind") == "dup") \
                   .select(F.col("key"), F.col("cnt"))

    # boundary exchange: ≤2 rows per partition
    boundary = sorted(
        (r["pid"], r["kind"], r["key"], r["cnt"])
        for r in scan.where(F.col("kind") != "dup").collect())
    by_pid = {}
    for pid, kind, k, cnt in boundary:
        by_pid.setdefault(pid, {})[kind] = (k, cnt)

    merged = {}

    def add(k, c):
        merged[k] = merged.get(k, 0) + c

    def _span(runs):
        if "whole" in runs:
            k = runs["whole"][0]
            return (k, k)
        return (runs["first"][0], runs["last"][0])

    # chain in RANGE order, not pid order: Spark schedules splits by
    # size, so a sorted table read back arrives with its ranges
    # scrambled across pids; (min, max) order is the only order in
    # which adjacent-range chaining is meaningful
    pids = sorted(by_pid, key=lambda p: (*_span(by_pid[p]), p))
    cert = _clustered_certificate(by_pid, pids)
    if certificate is not None:
        certificate.update(cert)
    if not cert["clustered_certified"] and on_unclustered != "trust":
        ex = cert["overlaps"][0]
        msg = (f"layout is not key-clustered: "
               f"{cert['overlap_count']} of {cert['partitions']} "
               f"range-adjacent partition ranges overlap (e.g. partition "
               f"{ex['pid_a']} max {ex['max_a']!r} > partition "
               f"{ex['pid_b']} min {ex['min_b']!r}); duplicates of "
               f"`{key}` spanning non-adjacent partitions would be "
               f"undercounted — use layout='any', or "
               f"on_unclustered='trust' for hash-bucketed key-disjoint "
               f"layouts")
        if on_unclustered == "error":
            raise ValueError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # chain runs across consecutive partitions: a key continues from
    # partition i into i+1 only if i's last == (i+1)'s first
    open_key, open_cnt = None, 0
    for pid in pids:
        runs = by_pid[pid]
        if "whole" in runs:
            k, c = runs["whole"]
            if open_key is not None and k == open_key:
                open_cnt += c
            else:
                if open_key is not None:
                    add(open_key, open_cnt)
                open_key, open_cnt = k, c
            continue
        fk, fc = runs["first"]
        lk, lc = runs["last"]
        if open_key is not None and fk == open_key:
            # the open chain absorbs this partition's first run AND
            # closes here: within one sorted partition first/last are
            # distinct keys, so the chained key cannot continue past
            # this partition — without this flush the merged count was
            # silently DROPPED when a duplicate's run ended at a
            # partition's first run (overwritten by the last run below)
            add(open_key, open_cnt + fc)
        else:
            if open_key is not None:
                add(open_key, open_cnt)
            add(fk, fc)
        open_key, open_cnt = lk, lc
    if open_key is not None:
        add(open_key, open_cnt)

    bdup = [(k, c) for k, c in merged.items() if c > 1]
    bdf = local_frame(spark, bdup, StructType([
        StructField("key", df.schema[key].dataType),
        StructField("cnt", LongType())]))
    return interior.unionByName(bdf) \
                   .groupBy("key").agg(F.sum("cnt").alias("cnt"))


def uniqueness_check(df: DataFrame, key: str, layout: str = "clustered",
                     id_alias: Optional[str] = None,
                     on_unclustered: str = "warn",
                     certificate: Optional[Dict] = None) -> DataFrame:
    """Violation rows for duplicated keys, in the engine's standard shape.

    ``layout='clustered'`` uses the shuffle-free boundary-exchange path
    (with the free runtime exactness certificate — see
    :func:`duplicate_ids` for ``on_unclustered``/``certificate``);
    ``layout='any'`` uses the exact groupBy fallback (key-column shuffle,
    map-side combined).

    ``on_unclustered='fallback'`` (this level only): run the clustered
    path, and if the certificate refuses, discard its result and rerun
    via the exact groupBy — always exact, shuffle-free when the layout
    certifies, one wasted key-column scan when it does not (recorded as
    ``certificate['fallback_used']``).

    NULL keys are NOT uniqueness violations on either path (a missing
    id is a `required` rule failure, not a duplicate): the groupBy path
    filters them explicitly so both layouts — and the fallback rerun —
    report identical violation sets."""
    if layout not in ("clustered", "any"):
        # same loud-knob rule as on_unclustered: a typo must not
        # silently select the boundary-exchange path
        raise ValueError("layout must be 'clustered' or 'any', "
                         f"got {layout!r}")

    def exact_groupby():
        # the ONE exact-path definition: layout='any' and the fallback
        # rerun share it so they can never drift
        return (df.where(F.col(key).isNotNull())
                  .groupBy(F.col(key).alias("key"))
                  .agg(F.count(F.lit(1)).alias("cnt"))
                  .where(F.col("cnt") > 1))

    if layout == "any":
        dups = exact_groupby()
    elif on_unclustered == "fallback":
        cert = {} if certificate is None else certificate
        dups = duplicate_ids(df, key, on_unclustered="trust",
                             certificate=cert)
        if not cert.get("clustered_certified", True):
            cert["fallback_used"] = True
            dups = exact_groupby()
        else:
            cert["fallback_used"] = False
    else:
        dups = duplicate_ids(df, key, on_unclustered=on_unclustered,
                             certificate=certificate)
    out_key = id_alias or key
    return dups.select(
        F.col("key").cast("string").alias(out_key),
        F.lit(key).alias("rule_path"),
        F.lit("unique").alias("rule_name"),
        F.lit("unique").alias("expected"),
        F.concat(F.lit("count="), F.col("cnt").cast("string"))
         .alias("actual"),
        F.concat(F.lit(f"field `{key}` value "), F.col("key").cast("string"),
                 F.lit(" is duplicated "), F.col("cnt").cast("string"),
                 F.lit(" times")).alias("message"))
