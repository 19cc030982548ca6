"""Verdict/violation/metrics sinks + the checkpoint manifest
(SURVEY.md §7 milestones 3 and 9; north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

Layout under an output root:

    <root>/violations/           parquet, partitioned by bucket_id
    <root>/decode_results/       parquet, partitioned by bucket_id
    <root>/metrics/              parquet (per-partition-group summaries)
    <root>/manifest/             one JSON file per completed partition group
    <root>/run.json              run-level lineage metadata

The manifest is the resume protocol: a partition group's outputs are
APPENDED first, its manifest record is written LAST (rename-free single
file put — atomic on local fs and object stores). A crashed run re-runs
only groups with no manifest record; violations for those groups may be
partially written, so readers must join against the manifest (or the
resumed run rewrites the group's partitions via dynamic overwrite).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession


def _fn_token(fn) -> str:
    """Process-stable identity for a callable rule param. ``repr(fn)``
    embeds the function's memory address, which changes every process —
    a resume in a new driver would see a different "fingerprint" for
    byte-identical code and refuse with a config-mismatch error. The
    token hashes the compiled bytecode instead (marshal is deterministic
    for a given interpreter version), so only an actual code edit — the
    thing the semantic guard exists to catch — moves the digest.

    Parameter state OUTSIDE the code object changes behavior exactly
    like bytecode does, so it joins the token too: closure cells and
    defaults; ``functools.partial`` bound args/kwargs (a bare partial
    has no ``__code__`` at all — without this branch every partial of
    every function collapsed to one token and a resume false-ACCEPTED a
    changed threshold); a bound method's ``__self__`` instance dict
    (``RangeCheck(200).chk`` vs ``RangeCheck(5000).chk`` share one code
    object); and a callable instance's own ``__dict__``. Free variables
    read through module globals remain invisible by construction —
    documented boundary: module state is not a rule parameter.
    Instance attrs that fall to ``repr`` with a memory address make the
    token process-UNstable, which fails safe (a spurious refusal, never
    a false accept)."""
    import functools
    if isinstance(fn, functools.partial):
        return ("fn:partial(" + _fn_token(fn.func)
                + ";args=" + _encode_str(list(fn.args))
                + ";kw=" + _encode_str(
                    {k: fn.keywords[k] for k in sorted(fn.keywords)})
                + ")")
    parts = [getattr(fn, "__module__", None) or "?",
             getattr(fn, "__qualname__", None) or type(fn).__name__]
    code = getattr(fn, "__code__", None)
    if code is not None:
        import marshal
        try:
            parts.append(hashlib.sha256(
                marshal.dumps(code)).hexdigest()[:16])
        except ValueError:  # unmarshalable code object (exotic)
            pass
    # captured constants change behavior exactly like bytecode does
    # (e.g. `lambda c: c > limit` under two values of `limit`)
    cells = getattr(fn, "__closure__", None)
    if cells:
        parts.append(",".join(_encode_str(c.cell_contents)
                              for c in cells))
    defaults = getattr(fn, "__defaults__", None)
    if defaults:
        parts.append(",".join(_encode_str(d) for d in defaults))
    # bound method → the instance IS captured state; callable instance
    # (defines __call__, no __code__ of its own) → same thing
    inst = getattr(fn, "__self__", None)
    if inst is None and code is None:
        inst = fn
        # the instance's BEHAVIOR lives in type(fn).__call__ — without
        # its bytecode in the token, editing the __call__ body between
        # runs would false-ACCEPT on resume (the one failure direction
        # this fingerprint must never take)
        call_code = getattr(getattr(type(fn), "__call__", None),
                            "__code__", None)
        if call_code is not None:
            import marshal
            try:
                parts.append(hashlib.sha256(
                    marshal.dumps(call_code)).hexdigest()[:16])
            except ValueError:
                pass
    state = getattr(inst, "__dict__", None) if inst is not None else None
    if state:
        parts.append("self=" + _encode_str(
            {str(k): state[k] for k in sorted(state)}))
    return "fn:" + ":".join(parts)


def _encode_str(v) -> str:
    """Flat string form of _encode (for closure-cell / default values)."""
    return json.dumps(_encode(v), sort_keys=True)


def _encode(v):
    """JSON-able canonical form of one rule param value. Recurses through
    schemas, dicts (the ``children`` of every ``K.object({...})`` —
    previously these fell to ``repr``, whose BaseSchema form prints rule
    NAMES only, so changing a nested threshold/pattern left the
    fingerprint unchanged and the resume guard blind), lists/tuples, and
    callables (via :func:`_fn_token`)."""
    if hasattr(v, "rules"):
        return _schema_node(v)
    if isinstance(v, dict):
        # insertion order is SEMANTIC for object children (it breaks
        # priority ties in the keys walk — dsl.ObjectSchema.keys), so
        # encode as an ordered pair list, never sorted
        return {"__dict__": [[str(k), _encode(x)] for k, x in v.items()]}
    if isinstance(v, (list, tuple)):
        return [_encode(x) for x in v]
    if callable(v):
        return _fn_token(v)
    if isinstance(v, float):
        return f"float:{v!r}"  # 1.0 must not collide with int 1
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return repr(v)


def _schema_node(s):
    # _ordered_rules (when present) folds in the implicit Optional, so a
    # schema that never called optional() hashes equal to one that did —
    # they compile identically
    rules = (s._ordered_rules() if hasattr(s, "_ordered_rules")
             else s.rules)
    return {
        "type": type(s).__name__,
        "priority": getattr(s, "priority", 0),
        "rules": [
            {"name": r.name,
             "params": {k: _encode(v)
                        for k, v in sorted(r.params.items())}}
            for r in rules],
    }


def ruleset_fingerprint(schema) -> str:
    """Stable hash of a rule tree — lineage metadata tying outputs to the
    exact rule set (the analog of citing the schema in jio's error text).
    Two properties the resume guard (runner.py) depends on: any change to
    any rule parameter at ANY depth moves the digest, and re-running the
    identical code in a new process does NOT (callables hash by bytecode,
    not by ``repr``'s memory address)."""
    blob = json.dumps(_schema_node(schema), sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def exemplar_order_key(viols: DataFrame,
                       id_cols: Sequence[str] = ("clip_id",),
                       partition_col: str = "bucket_id") -> list:
    """The exemplar-cap's deterministic order key for a violations
    frame: (*id_cols, message) extended by every remaining atomic
    column (name-sorted), then complex-typed columns via their
    canonical JSON — without the extension, rows tying on
    (id, message) but differing in ``actual``/``expected`` would be
    picked arbitrarily at the cap boundary, and a crash-resume rewrite
    could persist different exemplars. Complex types join as
    ``to_json`` because a window ORDER BY can't sort all of them
    directly.

    ONE derivation, shared by :func:`exemplar_cap`'s salt hash and both
    of its window orderings."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    keys = [partition_col, "rule_path", "rule_name"]
    order: list = [*id_cols, "message"]
    rest = [f for f in viols.schema.fields
            if f.name not in set(order) | set(keys)]
    order += sorted(f.name for f in rest
                    if isinstance(f.dataType, T.AtomicType))
    order += [F.to_json(F.struct(F.col(f.name)))
              for f in sorted((f for f in rest
                               if not isinstance(f.dataType,
                                                 T.AtomicType)),
                              key=lambda f: f.name)]
    return order


def exemplar_cap(viols: DataFrame, k: int,
                 partition_col: str = "bucket_id",
                 id_cols: Sequence[str] = ("clip_id",),
                 salt: int = 256) -> DataFrame:
    """Bound a violations stream for persistence at 10^12-row scale:
    keep only the ``k`` smallest-``id_cols`` exemplar rows per
    (partition, rule_path, rule_name) group, each carrying the group's
    EXACT total in ``group_violations``. ``id_cols`` defaults to the
    clips table's key; library-surface violations frames (engine
    ``validate`` with arbitrary ``id_cols``) pass their own.

    Why: a 1% violation rate over 10^12 clips writes 10^10 rows — the
    violations output becomes its own big-data problem, while the
    question a reader actually asks is "which rule failed, how often,
    show me a few concrete rows" (jio's error text answers the same
    question one document at a time, jio.go DefaultErrorHandler).

    Scale shape: two-phase salted top-k over the violation rows only (a
    small fraction of the table; `bytes` is never in this frame), still
    ONE pass over the source (re-deriving the stream would re-run the
    audio decode). A naive single window over the group keys sends
    EVERY row of a hot group — one rule failing on nearly all rows of a
    partition — to one task; instead phase 1 windows over
    (keys, content-salt) so no task ever holds more than ~group/salt
    rows, keeping each subgroup's local top-k and its exact subcount.
    Phase 2 re-ranks the survivors (≤ k·salt rows per group) and sums
    the subcounts — exact totals, zero approximation. The salt is
    content-derived (xxhash64 of the order key), not
    spark_partition_id(), so retries and AQE re-splits can't change it.

    Output size is bounded by k × |rules| × |partitions|, independent
    of row count. Determinism: the order key is (*id_cols, message)
    extended by every remaining atomic column (decode violations can
    tie on (clip_id, message) while differing in ``actual`` — without
    the extension row_number would pick arbitrarily at the cap
    boundary, and a crash-resume rewrite could emit different
    exemplars than the first attempt); complex-typed columns join the
    key as their canonical JSON. The global top-k under that order is
    invariant to the salt split (a global top-k row is top-k within
    any subset containing it); rows still tying on the full key are
    byte-identical, which are interchangeable."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    if k < 1:
        raise ValueError(f"exemplar cap must be >= 1, got {k}")
    if salt < 1:
        raise ValueError(f"exemplar salt must be >= 1, got {salt}")
    missing = [c for c in (*id_cols, partition_col, "rule_path",
                           "rule_name", "message")
               if c not in viols.columns]
    if missing:
        # fail at plan-build time with the contract named, not with an
        # unresolved-column analysis error mid-job
        raise KeyError(f"exemplar_cap: violations frame is missing "
                       f"{missing}; have {viols.columns}")
    reserved = {"exemplar_rank", "group_violations",
                "_x_salt", "_x_lrank", "_x_lcnt"}
    clash = sorted(reserved & set(viols.columns))
    if clash:
        # e.g. re-capping an already-capped frame at a smaller k would
        # silently overwrite the original exact totals with totals
        # recomputed over the capped subset — wrong, so refuse loudly
        raise KeyError(f"exemplar_cap: frame already has reserved "
                       f"column(s) {clash}; drop or rename them first")
    keys = [partition_col, "rule_path", "rule_name"]
    order = exemplar_order_key(viols, id_cols, partition_col)
    # phase 1: per-(keys, salt) local top-k + exact subcount. Every
    # nonempty subgroup keeps its rank-1 row (k >= 1), so the rank-1
    # rows carry a complete partition of the group's count.
    w1p = Window.partitionBy(*keys, "_x_salt")
    pre = (viols
           .withColumn("_x_salt",
                       F.pmod(F.xxhash64(*order), F.lit(int(salt))))
           .withColumn("_x_lrank", F.row_number().over(w1p.orderBy(*order)))
           # no orderBy → frame is the whole subgroup → exact subcount
           .withColumn("_x_lcnt", F.count(F.lit(1)).over(w1p))
           .where(F.col("_x_lrank") <= int(k)))
    # phase 2: ≤ k·salt rows per group — the exchange is tiny
    w2p = Window.partitionBy(*keys)
    return (pre
            .withColumn("exemplar_rank", F.row_number().over(w2p.orderBy(*order)))
            .withColumn("group_violations",
                        F.sum(F.when(F.col("_x_lrank") == 1,
                                     F.col("_x_lcnt"))).over(w2p))
            .where(F.col("exemplar_rank") <= int(k))
            .drop("_x_salt", "_x_lrank", "_x_lcnt"))


def _json_default(v):
    """Serializer for manifest/run.json values the stdlib encoder
    rejects. Partition values parsed beyond ±2^63 are ``decimal.Decimal``
    (sources/tables._parse_hive_int mirrors Spark's decimal(p,0)
    inference); without this, ``json.dump`` raises ``TypeError`` AFTER
    the group's scans and writes completed — the crash-after-work,
    re-run-forever failure ``_fname``'s docstring exists to prevent.
    Integral Decimals round-trip as ints (a resumed run's ``p not in
    done`` set-membership matches: ``Decimal(n) == int(n)`` and they
    hash equal); anything else raises as before — silently stringifying
    an unexpected type would corrupt resume matching instead."""
    from decimal import Decimal
    if isinstance(v, Decimal) and v == v.to_integral_value():
        return int(v)
    raise TypeError(f"Object of type {type(v).__name__} "
                    f"is not JSON serializable")


@dataclass
class Manifest:
    """Per-partition-group completion records."""

    root: str

    @property
    def dir(self) -> str:
        return os.path.join(self.root, "manifest")

    def completed(self) -> Dict[str, dict]:
        out = {}
        if not os.path.isdir(self.dir):
            return out
        for name in os.listdir(self.dir):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    rec = json.load(f)
                out[rec["group_key"]] = rec
        return out

    @staticmethod
    def _fname(group_key: str) -> str:
        """Filesystem-safe, injective file stem for a group key. Group
        keys embed raw partition VALUES (runner._group_key uses min/max),
        and _unescape_hive deliberately decodes ``%2F`` back to ``/`` so
        values stay isin-matchable — a key like ``group_a/b_a/b`` written
        verbatim would open a path under a nonexistent subdirectory,
        crashing the mark AFTER the group's work is done (and re-running
        the group on every resume, forever). Percent-encoding is
        injective; over-long results keep a prefix plus a full-key hash
        so two distinct keys can never share a file."""
        import urllib.parse
        safe = urllib.parse.quote(group_key, safe="=_.,-")
        if len(safe) > 180:
            digest = hashlib.sha256(group_key.encode()).hexdigest()[:16]
            safe = f"{safe[:150]}...{digest}"
        return safe

    def mark(self, group_key: str, partitions: Sequence,
             metrics: Optional[dict] = None) -> None:
        os.makedirs(self.dir, exist_ok=True)
        rec = {
            "group_key": group_key,
            "partitions": list(partitions),
            "completed_at": time.time(),
            "metrics": metrics or {},
        }
        stem = self._fname(group_key)
        tmp = os.path.join(self.dir, f".{stem}.tmp")
        final = os.path.join(self.dir, f"{stem}.json")
        with open(tmp, "w") as f:
            json.dump(rec, f, default=_json_default)
        os.replace(tmp, final)  # atomic on POSIX

    def completed_partitions(self) -> set:
        done = set()
        for rec in self.completed().values():
            done.update(rec["partitions"])
        return done

    def clear(self) -> None:
        """Remove every completion record. A FRESH (non-resume) run into
        an existing output root calls this first: stale records describe
        a DIFFERENT run's work (possibly under a different config), and
        if the fresh run crashes, a later resume would otherwise trust
        them and skip groups whose outputs the fresh run never rewrote —
        the config-mixing hole the semantic fingerprint alone cannot
        close (the fingerprint matches the fresh run.json, not the old
        records)."""
        if not os.path.isdir(self.dir):
            return
        for name in os.listdir(self.dir):
            if name.endswith(".json"):
                os.remove(os.path.join(self.dir, name))


def frame_fingerprint(df: Optional[DataFrame]) -> Optional[str]:
    """Stable hash of a SMALL frame's contents (order-insensitive) —
    lineage for tiny config-like inputs such as the referential codec
    dim, whose contents change which violation rows come out just as
    much as the rule set does. Collects the frame: callers must only
    pass dimension-sized inputs."""
    if df is None:
        return None
    blob = "\n".join(sorted(repr(r) for r in df.collect())).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


@dataclass
class RunSink:
    """Writers for one validation run."""

    root: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def clear_outputs(self, names: Sequence[str]) -> None:
        """Delete stale step-output dirs. A FRESH run into an existing
        root calls this alongside ``Manifest.clear``: the violations
        writer uses DYNAMIC partition overwrite, which only replaces
        partitions present in the new data — a partition that produced
        violations last run but is clean now would keep its stale rows
        forever, and steps this run has disabled (e.g. drift off) would
        leave a previous run's outputs under a run.json that never
        produced them."""
        import shutil
        for name in names:
            p = self.path(name)
            if os.path.isdir(p):
                shutil.rmtree(p)

    def write_run_metadata(self, meta: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        meta = dict(meta)
        meta.setdefault("run_id", self.run_id)
        meta.setdefault("started_at", time.time())
        # tmp + rename like Manifest.mark: run.json is READ on the
        # resume path, so a crash mid-write must not leave truncated
        # JSON that bricks every later run into this root
        tmp = os.path.join(self.root, ".run.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2, default=_json_default)
        os.replace(tmp, os.path.join(self.root, "run.json"))

    def read_run_metadata(self) -> Optional[dict]:
        """The previous run.json at this root, or None — what a resumed
        run checks its semantics against before overwriting it."""
        p = os.path.join(self.root, "run.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def append(self, df: DataFrame, name: str,
               partition_col: Optional[str] = "bucket_id") -> None:
        w = df.write.mode("append")
        if partition_col and partition_col in df.columns:
            w = w.partitionBy(partition_col)
        w.parquet(self.path(name))

    def overwrite(self, df: DataFrame, name: str) -> None:
        """Full overwrite for GLOBAL-step outputs (uniqueness, drift):
        the whole directory belongs to one resume-step, so rewriting it
        is idempotent under crash-resume — an append here would duplicate
        rows when the crash lands between the write and the step's
        manifest mark."""
        df.write.mode("overwrite").parquet(self.path(name))

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_col: str = "bucket_id") -> None:
        """Dynamic partition overwrite: a resumed run can safely rewrite a
        half-written group."""
        (df.write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy(partition_col)
           .parquet(self.path(name)))
