"""The full validation job over the north-star clips table: schema rules +
audio decode + uniqueness + referential + stats + drift, with per-partition
checkpoint/resume (BASELINE.json north_rule, SURVEY.md §3.3 lifecycle).

``run`` is three parts:

    _plan(df, ...) -> RunPlan      reads only: nothing under the output
                                   root changes, so bad input fails first
    steps: (key, partitions, body) one pool, one protocol: skip | run,
                                   then mark; the global steps run
                                   beside at most group_concurrency
                                   group steps
    _report(plan, results)         metrics from the step records alone

The plan pays the per-run work once: the rule set is compiled once
(compiling reads only ``df.schema``, which every group frame shares), the
codec dim is collected once, fingerprinted, and checked as a literal set,
and the whole table is annotated once — the rule chain's state columns
plus one ``_violations`` array holding the rule violations and the
``codec NOT IN <dim set>`` check. Each group filters that one frame; the
filter still reaches the scan as partition pruning, and the group's
observed stats and its explode sit above the filter. A rule chain that is
not deterministic (a transform using ``rand()``) would stop the filter
above it, so such a run prepares and annotates per group instead. The
plan also chooses where row integrity comes from (parquet footers per
group or for the whole table, or Iceberg partition counts). Its wall is
``metrics["phase_sec"]["plan"]``.

Execution shape per partition group (a group = a batch of bucket_id
partitions, the resume granularity):

    annotated.where(group) → observe(stats) → explode ─┐
    scan(group) → salted repartition → Arrow decode   ─┴─ violations
                                                          + record
    manifest.mark(group)        # written LAST → resume-safe

Global steps beside the groups (recorded under their own manifest keys):
uniqueness on clip_id (duplicates span partition groups by construction)
and the drift snapshot/check. They read only the plan's frame and write
their own output directories, so they start with the first group instead
of after the last: each Spark query pays a fixed driver-side gap, and
run one after another those gaps added up to most of a short pass. A
resumed run skips a global step it finds recorded, and its record stands
in the report.

Steps submit their Spark jobs concurrently; the sink (``RunSink``)
serializes the writes into each output directory. Every tiny frame the
driver builds (the codec dim, the sketch merge, the drift snapshot and
verdicts) is a JVM ``LocalRelation`` (``sinks.writers.local_frame``), so
reading it back runs no Spark job.
"""

from __future__ import annotations

import contextlib
import threading
import time
import urllib.parse
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Callable, Dict, List, Mapping, Optional, Sequence, Tuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import sqltext as sx
from .compiler import CompiledRuleSet, compile_ruleset
from .dsl import K, ObjectSchema
from .engine import rule_count_exprs
from .audio.decode import decode_check, decode_violations
from .audio.files import decode_check_files, is_hive_layout
from .operators.drift import HistSpec, drift_check, snapshot
from .operators.schema import (raise_schema_violations,
                               schema_contract_violations)
from .operators.stats import stats_exprs
from .operators.uniqueness import uniqueness_check
from .sinks.writers import (Manifest, RunSink, local_frame,
                            rows_fingerprint, ruleset_fingerprint)

#: every step-output dir a run can write — a fresh run into an existing
#: root clears ALL of them (see RunSink.clear_outputs)
STEP_OUTPUTS = ("violations", "uniqueness_violations", "snapshot", "drift")

VIOLATION_COLS = ["clip_id", "rule_path", "rule_name", "expected", "actual",
                  "message"]


def _merge_observed_stats(group_stats: List[Dict],
                          cols: Sequence[str],
                          spark: Optional[SparkSession] = None,
                          quantile_ps: Sequence[float] = (
                              0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
                          ) -> Dict:
    """Driver-side merge of per-group observe metrics (stats_exprs with
    quantiles=None): counts/nulls sum, min/max fold, means combine
    weighted by non-null counts.

    ``distinct``: when the groups carry mergeable ``{c}__hll`` sketches
    (stats_exprs ``hll_sketch=True``) and a session is given, they are
    union-merged into a true cross-group estimate (hll_union_agg — the
    registers merge exactly, so the estimate equals a single whole-table
    sketch). The per-group ``approx_count_distinct`` maxima, when present
    (stats_exprs emits them only for columns WITHOUT a sketch), are
    reported as ``distinct_lower_bound``.

    ``quantiles``: likewise, ``{c}__kll`` sketches (stats_exprs
    ``kll_quantiles=True``) merge into whole-table quantiles at
    ``quantile_ps`` — FINALIZED per-group quantile arrays cannot be
    combined, mergeable sketches are the only correct cross-group path.

    ALL sketch merges run in ONE tiny aggregation over an O(groups ×
    cols) frame of ~KB sketch rows (conditional aggregates — constant
    job count regardless of column count, measured 2 with AQE); all-null
    columns are answered driver-side (distinct=0, no quantiles) because
    their merged KLL sketch is empty and the quantile extractor throws
    on it."""
    total = sum(int(g["rows"]) for g in group_stats)
    out: Dict = {"rows": total}
    sketch_rows: List = []     # (col, kind, bytes) — ONE frame for all cols
    wanted: List = []          # (col, kind) merges to run in the one job
    for c in cols:
        nulls = sum(int(g.get(f"{c}__nulls") or 0) for g in group_stats)
        entry: Dict = {"nulls": nulls,
                       "null_rate": nulls / total if total else 0.0}
        dv = [g[f"{c}__distinct"] for g in group_stats
              if g.get(f"{c}__distinct") is not None]
        if dv:
            entry["distinct_lower_bound"] = int(max(dv))
        if spark is not None:
            nonnull = total - nulls
            for kind in ("hll", "kll"):
                sketches = [(c, kind, bytes(g[f"{c}__{kind}"]))
                            for g in group_stats
                            if g.get(f"{c}__{kind}") is not None]
                # all-null columns: the sketches are EMPTY — KLL's
                # quantile extractor throws on an empty merged sketch,
                # and HLL's answer is trivially 0 — so answer
                # driver-side, no merge
                if sketches and nonnull == 0 and kind == "hll":
                    entry["distinct"] = 0
                elif sketches and nonnull > 0:
                    sketch_rows += sketches
                    wanted.append((c, kind))
        for stat, fold in (("min", min), ("max", max),
                           ("min_len", min), ("max_len", max)):
            vals = [g[f"{c}__{stat}"] for g in group_stats
                    if g.get(f"{c}__{stat}") is not None]
            if vals:
                entry[stat] = fold(vals)
        for mean_key in ("mean", "mean_len"):
            pairs = [(g[f"{c}__{mean_key}"],
                      int(g["rows"]) - int(g.get(f"{c}__nulls") or 0))
                     for g in group_stats
                     if g.get(f"{c}__{mean_key}") is not None]
            w = sum(n for _, n in pairs)
            if w:
                entry[mean_key] = sum(m * n for m, n in pairs) / w
        out[c] = entry
    if wanted:
        # one tiny aggregation for every column's merges: conditional
        # sketch aggregates (null inputs are skipped by the agg
        # functions) over an O(groups × cols) frame of ~KB sketches —
        # constant job count regardless of column count. Built as SQL
        # text, so the aggregate crosses to the JVM in one parse, not
        # one call per literal
        sdf = local_frame(spark, sketch_rows,
                          "col string, kind string, s binary")
        ps = sx.array(*[float(p) for p in quantile_ps])
        aggs = []
        for c, kind in wanted:
            sk = sx.when((sx.col("col") == c) & (sx.col("kind") == kind),
                         sx.col("s"))
            if kind == "hll":
                agg = sx.call("hll_sketch_estimate",
                              sx.call("hll_union_agg", sk))
            else:
                agg = sx.call("kll_sketch_get_quantile_double",
                              sx.call("kll_merge_agg_double", sk), ps)
            aggs.append(agg.sql)
        # one value per wanted merge, in order
        row = sdf.selectExpr(*aggs).collect()[0]
        for (c, kind), v in zip(wanted, row):
            if kind == "hll":
                out[c]["distinct"] = int(v)
            else:
                out[c]["quantiles"] = dict(zip(
                    [str(p) for p in quantile_ps], [float(q) for q in v]))
    return out


def _part_filter(col: str, group: Sequence):
    """Row filter for one partition group; a None member selects the
    NULL partition explicitly (isin never matches NULL)."""
    vals = [v for v in group if v is not None]
    cond = F.col(col).isin(vals) if vals else F.lit(False)
    if any(v is None for v in group):
        cond = cond | F.col(col).isNull()
    return cond


def _group_key(group: Sequence) -> str:
    """Stable manifest/observation key for a group (None-safe)."""
    vals = [v for v in group if v is not None]
    key = f"{min(vals)}_{max(vals)}" if vals else "none"
    if any(v is None for v in group):
        key += "_null"
    return key


def _dim_codecs(rows: Optional[Sequence]) -> Optional[List]:
    """The codec dim's distinct non-NULL ``codec`` values, sorted: the
    literal set the referential check tests each row's codec against (a
    NULL dim key matches no row, as in a join). None without a dim."""
    if rows is None:
        return None
    return sorted({r["codec"] for r in rows if r["codec"] is not None})


def _row_integrity(rows: int, expected: int, unreadable: int) -> Dict:
    """The row-integrity record: the rows a run observed against the
    rows the table's metadata holds. Files whose footer could not be
    read make ``expected`` a lower bound, so they fail the check too."""
    return {"ok": bool(rows == expected and unreadable == 0),
            "rows_expected": expected, "unreadable_files": unreadable}


def _counted_rows(counts: Mapping, group: Sequence,
                  footer_cache: Optional[dict] = None) -> Tuple[int, int]:
    """``(rows_expected, 0)`` of a group from per-partition row counts
    (an Iceberg table's committed ``.partitions`` record counts)."""
    return sum(counts.get(p, 0) for p in group), 0


def default_clip_rules() -> ObjectSchema:
    """The jio-style rule set for the north-star clips shape
    (BASELINE.json input_hint)."""
    return K.object({
        "clip_id": K.string().required().regex(r"^clip_[0-9]{12}$"),
        "sr_hz": K.number().required()
                  .valid(8000, 16000, 22050, 44100).integer(),
        "dur_ms": K.number().required().min(200).max(30000).integer(),
        "codec": K.string().required().min(1),
        "transcript": K.string().min(1).max(4096),
    })


def default_codec_dim(spark: SparkSession) -> DataFrame:
    """FIXTURES.md §2 dim_codec."""
    return local_frame(
        spark,
        [("pcm_s16le", 16, "wav"), ("ulaw", 8, "wav"), ("alaw", 8, "wav"),
         ("adpcm_ima", 4, "wav"), ("pcm_u8", 8, "wav"),
         ("pcm_s24le", 24, "wav"), ("pcm_f32le", 32, "wav"),
         ("pcm_f64le", 64, "wav")],
        "codec string, bits_per_sample int, container string")


DRIFT_SPECS = {"dur_ms": HistSpec(200.0, 30000.0, 32),
               "sr_hz": HistSpec(0.0, 48000.0, 48)}


#: the config fields that change WHICH rows a run writes, in run.json's
#: lineage order. The sink shape is one: resuming a full-mode root in
#: exemplars mode would mix bounded and unbounded groups in one
#: violations dir
_SEMANTIC_FIELDS = (
    "partition_col", "audio_check", "check_reference", "snr_threshold",
    "decode_on_corrupt", "decode_source", "uniqueness_layout",
    "uniqueness_on_unclustered", "violations_sink")

#: allowed values of every mode knob: a typo must fail at construction,
#: not silently take another branch or raise after the group scans
_CHOICES = {
    "uniqueness_layout": ("any", "clustered"),
    "uniqueness_on_unclustered": ("warn", "error", "trust", "fallback"),
    "table_format": ("parquet", "iceberg"),
    "decode_source": ("dataframe", "files"),
    "decode_on_corrupt": ("fail", "violation"),
    "schema_contract_mode": ("fail", "warn"),
    "violations_sink": ("full", "exemplars"),
}


@dataclass
class ClipsJobConfig:
    """Job configuration. Values are checked at construction: a mode
    knob outside its allowed values (``_CHOICES``),
    ``violations_exemplars < 1`` in exemplars mode, or ``group_size`` /
    ``group_concurrency`` below 1 raises ``ValueError`` naming the
    field."""
    rules: ObjectSchema = field(default_factory=default_clip_rules)
    partition_col: str = "bucket_id"
    group_size: int = 8               # bucket partitions per resume group
    audio_check: bool = True
    check_reference: bool = True      # SNR + transcript vs synth oracle
    #: scalar dB gate, or a per-codec mapping like
    #: {"adpcm_ima": 26.0, "default": 30.0} (audio/decode.threshold_for)
    #: — serialized into the semantic fingerprint either way, so a
    #: resumed run cannot silently mix two gates' violations
    snr_threshold: object = 30.0
    uniqueness_layout: str = "any"    # clips parquet isn't key-clustered
    #: when ``uniqueness_layout='clustered'``: what to do if the free
    #: runtime range certificate (operators/uniqueness.py) finds the
    #: layout NOT key-clustered — 'warn' | 'error' | 'trust'
    #: (hash-bucketed / equal-keys-colocated writes are exact despite
    #: overlapping ranges) | 'fallback' (rerun via the exact groupBy —
    #: always exact, shuffle-free when certified). The verdict lands in
    #: ``metrics['uniqueness_certificate']`` either way.
    uniqueness_on_unclustered: str = "warn"
    #: storage format behind ``table_root`` — drives metadata-only
    #: partition discovery (hive dir listing vs Iceberg .partitions) and
    #: gates the payload-local 'files' decode (parquet row-group reads)
    table_format: str = "parquet"
    #: 'dataframe' ships payloads through Arrow batches; 'files' reads the
    #: payload column straight from parquet row groups in the workers
    #: (payload-local — see audio/files.py; needs table_root in run())
    decode_source: str = "dataframe"
    #: 'fail' (strict): one damaged parquet file kills the decode job.
    #: 'violation': unreadable files/row groups become structured decode
    #: violations (clip_id '__corrupt__:<file>#rg<N>') and the job
    #: completes over everything readable — at 10^12 clips the expected
    #: damaged-file count is not zero. Files-mode decode only (the
    #: dataframe path reads through the JVM scan, which has its own
    #: ignoreCorruptFiles policy).
    decode_on_corrupt: str = "fail"
    #: physical-schema contract for the input table ({col: spark simple
    #: type}, e.g. operators.schema.CLIPS_SCHEMA_CONTRACT). Checked on
    #: the DRIVER before any job launches (df.schema is metadata-only) —
    #: a writer-side rename/re-type fails in milliseconds, not 40 min
    #: into a cluster-wide scan. None disables.
    schema_contract: Optional[Dict[str, str]] = None
    #: 'fail': raise listing every break; 'warn': record the breaks as
    #: structured rows under metrics['schema_violations'] and continue
    #: (the per-row rule compiler still types every value, jio-style)
    schema_contract_mode: str = "fail"
    #: 'full' persists every violation row; 'exemplars' bounds the
    #: persisted stream for 10^12-row scale — the k smallest-clip_id
    #: rows per (partition, rule_path, rule_name), each carrying the
    #: group's EXACT pre-cap total in ``group_violations`` (one window
    #: pass over the violation rows, no second source scan — the decode
    #: never runs twice; see sinks.writers.exemplar_cap). Output-root
    #: runs only: without a sink the violations are never materialized,
    #: so there is nothing to cap.
    violations_sink: str = "full"
    #: exemplar rows kept per (partition, rule_path, rule_name) group
    violations_exemplars: int = 20
    drift: bool = True
    #: run at most this many partition groups as concurrent Spark jobs
    #: — the tail tasks of one group overlap the next group's scan
    #: instead of idling the cluster at each group barrier (resume
    #: granularity is unchanged: a group is still marked only when fully
    #: written). The global steps (uniqueness, drift) run beside them
    #: outside this cap: they write their own output directories, and
    #: the sink serializes writes per directory, so only the groups'
    #: ``violations/`` writes queue behind each other
    group_concurrency: int = 1
    #: per-column stats riding the rule scan via ``df.observe`` (north
    #: star: "one pass computes per-column stats") — zero extra source
    #: reads; merged across groups driver-side into metrics
    stat_cols: Sequence[str] = ("sr_hz", "dur_ms", "codec", "transcript")
    #: per-RULE evaluated/passed/failed counts riding the SAME observe
    #: (2 long sums per rule — map-side combinable, no extra scan):
    #: the run metrics answer "which rule failed how often" without
    #: re-reading the written violations. jio analog: the per-rule
    #: verdicts its test suite asserts, aggregated. Covers the compiled
    #: rule chain; referential/decode/uniqueness counts live in their
    #: own violation streams. OFF by
    #: default: a 5-rep interleaved A/B at sf0.1 measured the ~2×19
    #: extra observe aggregates at +0.6 s (+9%) on the full job
    #: (7.80 vs 7.17 s medians) — worth paying only when asked for.
    observe_rule_counts: bool = False

    def __post_init__(self):
        for name, allowed in _CHOICES.items():
            value = getattr(self, name)
            if value not in allowed:
                raise ValueError(
                    f"{name} must be one of {', '.join(map(repr, allowed))}"
                    f", got {value!r}")
        # the exemplar cap is read only in exemplars mode
        capped = ("violations_exemplars",) \
            if self.violations_sink == "exemplars" else ()
        for name in capped + ("group_size", "group_concurrency"):
            if getattr(self, name) < 1:
                raise ValueError(
                    f"{name} must be >= 1, got {getattr(self, name)!r}")


@dataclass(frozen=True)
class RunPlan:
    """What a run decided before its first write (``_plan``).

    ``annotated`` is the whole table annotated once, or None when the
    rule chain is not deterministic (each group then annotates its own
    slice). ``recorded`` holds the manifest records of the global steps
    a resumed run finds complete. ``row_source(group, footer_cache=)``
    gives ``(rows_expected, unreadable_files)`` for a group, or for the
    whole table with ``group=None`` when ``table_integrity``; None when
    the table has no row counts to audit against."""
    df: DataFrame
    table_root: Optional[str]
    resume: bool
    sink: Optional[RunSink]
    manifest: Optional[Manifest]
    compiled: CompiledRuleSet
    dim_codecs: Optional[List]
    annotated: Optional[DataFrame]
    observe_exprs: List
    schema_viols: List[Dict]
    lineage: Dict
    recorded: Dict[str, Dict]
    partitions: int
    groups: List[List]
    row_source: Optional[Callable]
    table_integrity: bool
    started: float
    plan_sec: float


class ClipsValidationJob:
    """Composable full-pass job; ``run`` returns the metrics dict and, when
    an output root is given, persists violations / decode results /
    metrics / manifest for resume."""

    def __init__(self, spark: SparkSession,
                 config: Optional[ClipsJobConfig] = None,
                 codec_dim: Optional[DataFrame] = None,
                 baseline_snapshot: Optional[DataFrame] = None):
        self.spark = spark
        self.cfg = config or ClipsJobConfig()
        self.codec_dim = codec_dim
        self.baseline = baseline_snapshot

    def _files_decode(self, table_root: Optional[str]) -> bool:
        """Does the payload-local 'files' decode apply? It reads parquet
        row groups straight off the filesystem — an Iceberg table_root
        is a catalog name, not a listable directory, so it stays on the
        Arrow path."""
        return bool(table_root) and self.cfg.decode_source == "files" \
            and self.cfg.table_format == "parquet"

    # -- one partition group ------------------------------------------------

    def _annotate(self, prepared: DataFrame, compiled: CompiledRuleSet,
                  dim_codecs: Optional[Sequence]) -> DataFrame:
        """``prepared`` plus ``_violations``: the rule chain's violations
        and, with a codec dim, the referential check ``codec NOT IN <dim
        set>`` appended as one more element."""
        ann = prepared.withColumn("_violations", compiled.violations_array)
        if self.codec_dim is not None:
            # SQL text, parsed in one call (see sqltext)
            codec, viols = sx.col("codec"), sx.col("_violations")
            ref_fail = codec.isNotNull()
            if dim_codecs:
                ref_fail = ref_fail & ~codec.isin(*dim_codecs)
            ref = sx.struct({
                "rule_path": "codec", "rule_name": "referential",
                "expected": "exists in dim.codec", "actual": codec,
                "message": sx.concat("field `codec` value ", codec,
                                     " not found in dimension `codec`")})
            ann = ann.withColumn("_violations", F.expr(
                sx.when(ref_fail, sx.concat(viols, sx.array(ref)))
                .otherwise(viols).sql))
        return ann

    def group_violations(self, df: DataFrame, group=None,
                         table_root: Optional[str] = None,
                         footer_cache: Optional[dict] = None,
                         annotated: Optional[DataFrame] = None
                         ) -> DataFrame:
        """All per-row violations for a slice of the table, in the standard
        shape + partition column.

        ``annotated`` is :meth:`_annotate` of this slice; a run's group
        step passes the run's one annotated frame filtered to the slice,
        with the group's observe on it. Called without it, this
        compiles, collects the dim, prepares and annotates itself.

        Scan economy (SURVEY.md §4.2 "single-pass multi-metric"): the rule
        chain AND the referential check share ONE scan, with no join and
        no exchange — the check is ``codec NOT IN <dim set>``, appended as
        one more element of the per-row violations array before the
        single explode, and the scan never reads `bytes` (column
        pruning). The audio decode is the only second scan, reading
        exactly (id, bytes, metadata)."""
        if annotated is None:
            compiled = compile_ruleset(df, self.cfg.rules.clone())
            annotated = self._annotate(
                compiled.prepare(df), compiled, _dim_codecs(
                    None if self.codec_dim is None
                    else self.codec_dim.collect()))

        # no size()>0 pre-filter: explode drops empty arrays itself;
        # the filter variant re-evaluates the violations-array expr in a
        # separate Filter node for surviving rows (measured cost-neutral
        # at sf0.1 — the single-evaluation plan is simply simpler)
        viols = (annotated.select("clip_id", self.cfg.partition_col,
                                  F.explode("_violations").alias("_v"))
                 .select("clip_id",
                         *[F.col(f"_v.{c}") for c in VIOLATION_COLS[1:]],
                         self.cfg.partition_col))

        if self.cfg.audio_check:
            if self._files_decode(table_root):
                dec = decode_check_files(
                    self.spark, table_root,
                    check_reference=self.cfg.check_reference,
                    snr_threshold=self.cfg.snr_threshold,
                    partition_filter=group,
                    partition_col=self.cfg.partition_col,
                    on_corrupt=self.cfg.decode_on_corrupt,
                    footer_cache=footer_cache)
            else:
                # per-codec SNR gates: pass codec through so the snr
                # violation's `expected` names that codec's own bound
                # (decode_violations falls back to generic text without
                # it); the violations schema itself is unchanged
                extra_pass = [self.cfg.partition_col]
                if isinstance(self.cfg.snr_threshold, Mapping):
                    extra_pass.append("codec")
                dec = decode_check(
                    df, check_reference=self.cfg.check_reference,
                    snr_threshold=self.cfg.snr_threshold,
                    passthrough=extra_pass)
            viols = viols.unionByName(
                decode_violations(dec, extra_cols=[self.cfg.partition_col],
                                  snr_threshold=self.cfg.snr_threshold))
        return viols

    # -- the full job: plan, steps, report ----------------------------------

    def run(self, df: DataFrame, output_root: Optional[str] = None,
            resume: bool = False,
            table_root: Optional[str] = None) -> Dict:
        """Run the full job over ``df``.

        ``table_root`` — the table's storage location — enables
        metadata-only partition discovery and payload-local decode.
        CONTRACT: when given, ``df`` must span the FULL table at that
        location (as `bench.py`/`submit_job.py` do — they read df from
        table_root itself). Passing a pre-filtered df with table_root
        would enumerate partitions df doesn't contain and mark their
        empty groups complete in the resume manifest; filter by
        partition via the manifest/resume machinery instead, or omit
        table_root so discovery derives from df."""
        plan = self._plan(df, output_root, resume, table_root)
        # -- the plan holds: the first writes
        if plan.manifest and not resume:
            # a FRESH run into an existing root invalidates every old
            # completion record: if this run crashes, a later resume
            # must re-run only what THIS run didn't finish — stale
            # records from a previous (possibly differently-configured)
            # run would otherwise be trusted and their groups skipped
            plan.manifest.clear()
            # ... and every old step output: the violations writer is a
            # DYNAMIC partition overwrite, which never deletes a
            # partition absent from the new data — a partition dirty
            # last run but clean now would keep its stale violation
            # rows under this run's run.json
            plan.sink.clear_outputs(STEP_OUTPUTS)
        if plan.sink:
            plan.sink.write_run_metadata(plan.lineage)

        global_steps = [("_global_uniqueness", [],
                         partial(self._uniqueness_step, plan))]
        if self.cfg.drift:
            global_steps.append(("_global_drift", [],
                                 partial(self._drift_step, plan)))
        group_steps = [(f"group_{_group_key(g)}", g,
                        partial(self._group_step, plan, g))
                       for g in plan.groups]
        metrics = self._report(
            plan, self._run_steps(plan, global_steps, group_steps))
        if plan.sink:
            # keep the run-start lineage keys — the final write replaces
            # run.json wholesale
            plan.sink.write_run_metadata({
                **plan.lineage,
                "metrics": {k: v for k, v in metrics.items()
                            if k != "drift"},
            })
        return metrics

    def _plan(self, df: DataFrame, output_root: Optional[str],
              resume: bool, table_root: Optional[str]) -> RunPlan:
        """Everything the run decides before its first write. It only
        reads, so bad input (a typo'd table_root, a partition column of
        the wrong type, a stale drift baseline) leaves a finished output
        root as it was."""
        cfg = self.cfg
        t0 = time.time()
        if cfg.drift and self.baseline is not None:
            # preflight the baseline's bin specs against the current
            # DRIFT_SPECS NOW (both sides are tiny): a stale baseline
            # must fail before any group scans, not after them in the
            # drift step — same fail-in-milliseconds rule as the schema
            # contract
            from .operators.drift import assert_baseline_spec_compatible
            assert_baseline_spec_compatible(self.baseline, DRIFT_SPECS)
        schema_viols: List[Dict] = []
        if cfg.schema_contract:
            schema_viols = schema_contract_violations(
                df, cfg.schema_contract)
            if schema_viols and cfg.schema_contract_mode == "fail":
                raise_schema_violations(schema_viols)
        # ONE compile per run: a rule on a missing column fails here, and
        # every group (and the rule_counts metadata) reuses the plan
        compiled = compile_ruleset(df, cfg.rules.clone())
        # the codec dim is read ONCE: the same rows give the run.json
        # fingerprint and the literal set every group checks codecs
        # against
        dim_rows = (self.codec_dim.collect()
                    if self.codec_dim is not None else None)
        dim_codecs = _dim_codecs(dim_rows)
        # ... and ONE annotated frame: each group filters it. Catalyst
        # pushes that filter through the chain's projections down to the
        # scan only when every expression in them is deterministic; a
        # nondeterministic chain (a transform using rand(), say) would
        # lose partition pruning, so it is annotated per group instead
        prepared = compiled.prepare(df)
        annotated = None
        if prepared._jdf.queryExecution().analyzed().deterministic():
            annotated = self._annotate(prepared, compiled, dim_codecs)
        # what each group observes on its rule scan: the column stats,
        # and the per-rule tallies when asked for
        observe_exprs = stats_exprs(df, list(cfg.stat_cols), quantiles=None,
                                    hll_sketch=True, kll_quantiles=True)
        if cfg.observe_rule_counts:
            # per-rule verdict tallies on the same pass (the shared
            # recipe from engine.rule_count_exprs — summary() and this
            # path can never diverge)
            observe_exprs += rule_count_exprs(compiled.entries)
        sink = RunSink(output_root) if output_root else None
        manifest = Manifest(output_root) if output_root else None

        # the semantic fingerprint: every knob that changes WHICH rows
        # come out. A resumed run must match the run it resumes — the
        # completed groups' outputs were produced under the old config,
        # so a mismatch would silently mix two rule versions' violations
        # in one output dir (per-group lineage would say nothing: the
        # manifest records completion, not semantics).
        semantics = {
            "ruleset": ruleset_fingerprint(cfg.rules),
            # the referential dim's CONTENTS change which rows come out
            # exactly like the rule set does (a codec missing from a
            # rebuilt dim flags every row carrying it) — hashed from the
            # rows collected above, which must stay dimension-sized
            "codec_dim": rows_fingerprint(dim_rows),
            **{k: getattr(cfg, k) for k in _SEMANTIC_FIELDS},
            # the cap changes WHICH rows a completed group wrote, like
            # the sink shape does
            **({"violations_exemplars": cfg.violations_exemplars}
               if cfg.violations_sink == "exemplars" else {}),
        }
        # run.json lineage: the semantics plus the run this one resumes
        lineage = dict(semantics)
        prev = sink.read_run_metadata() if sink and resume else None
        if prev:
            # fingerprint keys added AFTER a root was written are absent
            # from its run.json; absent means "was at the old default",
            # NOT "unknown, skip" — otherwise resuming a pre-upgrade
            # (implicitly full-mode) root in exemplars mode would
            # silently mix unbounded and capped groups, the exact thing
            # the violations_sink key refuses
            prev = {"violations_sink": "full", **prev}
            diffs = {k: {"completed_groups_used": prev[k], "now": v}
                     for k, v in semantics.items()
                     if k in prev and prev[k] != v}
            if diffs:
                raise ValueError(
                    "resume would mix outputs from two different "
                    f"configurations: {diffs} — rerun without resume "
                    "(full rewrite) or restore the original config")
            if prev.get("run_id"):
                lineage["resumed_from"] = prev["run_id"]

        # partition discovery is metadata-only when the table location is
        # known (filesystem listing of hive dirs / Iceberg .partitions);
        # the distinct() job — a full scan at 10^12 rows — is only the
        # fallback for ad-hoc in-memory frames
        parts: List = []
        if table_root:
            from .sources.tables import list_partition_values
            parts = list_partition_values(self.spark, table_root,
                                          cfg.partition_col,
                                          fmt=cfg.table_format)
            if parts:
                # the wanted-set must isin-match the column's real type
                # or every group filter selects zero rows while being
                # marked complete — refuse at plan time, not silently
                from .sources.tables import check_partition_value_types
                check_partition_value_types(
                    parts, df.schema[cfg.partition_col].dataType)
        # can the files decode and its footer audit dir-prune per group?
        # Asked of the decode's own listing (plain paths and URIs alike),
        # once per run; a listed hive partition set already answers it
        files_decode = self._files_decode(table_root)
        hive = files_decode and (bool(parts) or is_hive_layout(
            table_root, cfg.partition_col))
        if not parts:
            from .sources.tables import none_last_sorted
            raw = [r[0] for r in
                   df.select(cfg.partition_col).distinct().collect()]
            # NULL partition values ride as an explicit last member whose
            # row filter is isNull()
            parts = none_last_sorted(raw)
        completed = manifest.completed() if (manifest and resume) else {}
        done = manifest.completed_partitions() if completed else set()
        todo = [p for p in parts if p not in done]
        if files_decode and cfg.audio_check and not hive:
            # non-hive layout (e.g. a clip_id-sorted clustered table: the
            # partition value is a DATA column, no directories to prune):
            # run ONE full-table group. Splitting by column values would
            # make decode_check_files — which cannot dir-prune such a
            # layout — decode the ENTIRE table once per group, count the
            # same decode violations per group, and overwrite every
            # sink partition from each group. A hive-laid-out table whose
            # METADATA listing came back empty keeps its normal per-group
            # batches: decode_check_files dir-prunes it fine.
            groups = [todo] if todo else []
        else:
            groups = [todo[i:i + cfg.group_size]
                      for i in range(0, len(todo), cfg.group_size)]

        # -- row integrity: ONE source per run, not per group. parquet:
        # the footer audit can prune per GROUP only on a hive layout; a
        # non-hive layout (partition value is a data column) would count
        # the WHOLE table against each group's rows — a false flag on
        # every healthy group — so it audits at TABLE granularity
        # instead, and only when the run spans every partition (a
        # resumed subset has no whole-table truth either). iceberg: the
        # .partitions read is group-independent — one manifest read per
        # run, indexed per group.
        row_source, table_integrity = None, False
        if files_decode and (hive or len(todo) == len(parts)):
            from .audio.files import footer_row_counts
            row_source = partial(footer_row_counts, table_root,
                                 partition_col=cfg.partition_col)
            table_integrity = not hive
        elif table_root and cfg.table_format == "iceberg":
            from .sources.tables import iceberg_partition_row_counts
            counts = iceberg_partition_row_counts(self.spark, table_root,
                                                  cfg.partition_col)
            if counts is not None:      # None: no .partitions to read
                row_source = partial(_counted_rows, counts)

        # only the global steps are skipped by key: todo already left
        # out the done partitions, and a group whose key ANOTHER
        # partition set recorded must still run for its own rows
        recorded = {k: rec.get("metrics", {}) for k, rec in completed.items()
                    if k.startswith("_global_")}
        return RunPlan(
            df=df, table_root=table_root, resume=resume, sink=sink,
            manifest=manifest, compiled=compiled, dim_codecs=dim_codecs,
            annotated=annotated,
            observe_exprs=observe_exprs,
            schema_viols=schema_viols, lineage=lineage, recorded=recorded,
            partitions=len(parts), groups=groups, row_source=row_source,
            table_integrity=table_integrity, started=t0,
            plan_sec=time.time() - t0)

    # -- the steps: each returns its manifest record ------------------------

    def _group_step(self, plan: RunPlan, group: Sequence) -> Dict:
        """One partition group: its violations written (or counted), and
        its record — rows, the violation count without a sink, row
        integrity — plus the group's ``observed`` stats row, which the
        manifest mark leaves out."""
        cfg = self.cfg
        cond = _part_filter(cfg.partition_col, group)
        gdf = plan.df.where(cond)
        if plan.annotated is not None:
            ann = plan.annotated.where(cond)
        else:
            ann = self._annotate(plan.compiled.prepare(gdf), plan.compiled,
                                 plan.dim_codecs)
        # stats piggyback on the SAME scan (before the explode drops
        # passing rows) — no extra source read
        obs = Observation(f"stats_{_group_key(group)}")
        # one footer read per file per group: the decode's split
        # listing and the row-integrity audit below share it
        fcache: Dict = {}
        viols = self.group_violations(
            gdf, group=group, table_root=plan.table_root,
            footer_cache=fcache,
            annotated=ann.observe(obs, *plan.observe_exprs))
        counted = {}
        if plan.sink:
            if cfg.violations_sink == "exemplars":
                from .sinks.writers import exemplar_cap
                viols = exemplar_cap(viols, cfg.violations_exemplars,
                                     cfg.partition_col)
            plan.sink.overwrite_partitions(viols, "violations",
                                           cfg.partition_col)
        else:
            counted["violations"] = viols.count()
        observed = obs.get                      # set by the action
        rec = {"rows": int(observed["rows"]), **counted}
        if plan.row_source and not plan.table_integrity:
            # scan-vs-metadata audit: catches the JVM scan silently
            # dropping corrupt files (ignoreCorruptFiles) — a
            # "successful" run over less data than the table holds is
            # flagged, not trusted
            rec["row_integrity"] = _row_integrity(
                rec["rows"], *plan.row_source(group, footer_cache=fcache))
        rec["observed"] = observed
        return rec

    def _uniqueness_step(self, plan: RunPlan) -> Dict:
        """Global step 1: uniqueness (duplicate ids cross partition
        groups)."""
        cert: Dict = {}
        uv = uniqueness_check(
            plan.df, "clip_id", layout=self.cfg.uniqueness_layout,
            on_unclustered=self.cfg.uniqueness_on_unclustered,
            certificate=cert)
        if plan.sink:
            # the write's own observed row count: a count() after it
            # would re-plan the whole-table groupBy
            seen = Observation()
            uv = uv.observe(seen, F.count(F.lit(1)).alias("rows"))
            # overwrite, not append: a crash between this write and the
            # step's manifest mark must not duplicate rows when the
            # resumed run re-executes the step
            plan.sink.overwrite(uv, "uniqueness_violations")
            n = int(seen.get["rows"])
        else:
            n = uv.count()
        return {"violations": n, **({"certificate": cert} if cert else {})}

    def _drift_step(self, plan: RunPlan) -> Dict:
        """Global step 2: the drift snapshot, and the check against the
        baseline."""
        snap = snapshot(plan.df, DRIFT_SPECS)
        if plan.sink:
            plan.sink.overwrite(snap, "snapshot")
        if self.baseline is None:
            # baseline-less runs still pay the snapshot scan — the
            # (empty) result is recorded so resume skips it too
            return {"drift": []}
        dc = drift_check(snap, self.baseline)
        rows = [r.asDict() for r in dc.collect()]
        if plan.sink:
            plan.sink.overwrite(dc, "drift")
        return {"drift": rows}

    def _run_steps(self, plan: RunPlan, global_steps: Sequence[Tuple],
                   group_steps: Sequence[Tuple]
                   ) -> Dict[str, Tuple[Dict, float, Optional[int]]]:
        """Every ``(key, partitions, body)`` step through ONE pool of
        ``group_concurrency + len(global_steps)`` workers. The global
        steps are submitted first and each holds a worker of its own, so
        they run beside the groups from the start; a semaphore of
        ``group_concurrency`` admits the group bodies, so at most that
        many groups run at once (at 1, in order). Overlap is safe: the
        global steps only read ``plan.df`` and write their own output
        directories, and the sink serializes writes per directory.
        Returns ``{key: (record, seconds, spark_jobs)}``.

        THE step protocol: a global step a resumed run finds recorded is
        skipped, and its recorded results stand in this run's metrics (a
        0 would contradict the written outputs); otherwise its body runs
        and its record is marked LAST, after the body's writes →
        resume-safe. Once any step has failed, no further step starts; a
        step already running finishes and marks.

        Each step's thread tags its Spark jobs ``jio_step:<run>:<key>``,
        and ``spark_jobs`` counts them from the status tracker (no Spark
        job): under overlap, a diff of the global job-id set would count
        the neighbours' jobs too. Without pinned threads no Python thread
        owns a JVM thread to hold the tag, and the count is None."""
        sc = self.spark.sparkContext
        failed = threading.Event()
        group_slots = threading.Semaphore(self.cfg.group_concurrency)
        run_tag = uuid.uuid4().hex[:12]

        def run_step(key: str, partitions: Sequence, body: Callable,
                     slot, tag: Optional[str]):
            with slot:
                if failed.is_set():
                    return None
                t = time.time()
                if tag:
                    sc.addJobTag(tag)
                try:
                    rec = plan.recorded.get(key)
                    if rec is None:
                        rec = body()
                        if plan.manifest:
                            plan.manifest.mark(key, partitions, {
                                k: v for k, v in rec.items()
                                if k != "observed"})
                except BaseException:
                    # set before the slot is released: no group admitted
                    # after this failure starts
                    failed.set()
                    raise
                finally:
                    if tag:
                        sc.removeJobTag(tag)
                return rec, time.time() - t

        futures = []
        tags = {}
        steps = [(step, contextlib.nullcontext()) for step in global_steps]
        steps += [(step, group_slots) for step in group_steps]
        with ThreadPoolExecutor(len(global_steps)
                                + self.cfg.group_concurrency) as pool:
            for (key, parts, body), slot in steps:
                # each step runs with its own copy of the caller's local
                # properties (job group, scheduler pool) and session
                # tags: a shared one would hand concurrent steps the
                # same ``Properties`` object, and one step's job tag to
                # the others. With pinned threads off, PySpark returns
                # the session itself, and no Python thread owns a JVM
                # thread to carry them into
                wrap = inheritable_thread_target(self.spark)
                fn, tag = run_step, None
                if wrap is not self.spark:
                    fn = wrap(run_step)
                    # a job tag may not hold a comma; quote() is
                    # injective and leaves none
                    tag = tags[key] = \
                        f"jio_step:{run_tag}:{urllib.parse.quote(key)}"
                futures.append((key, pool.submit(fn, key, parts, body,
                                                 slot, tag)))
        # every result read, so every step's failure surfaces
        results = {key: f.result() for key, f in futures}
        tracker = sc._jsc.sc().statusTracker()
        return {key: (*res, len(tracker.getJobIdsForTag(tags[key]))
                      if key in tags else None)
                for key, res in results.items()}

    # -- the report ---------------------------------------------------------

    def _report(self, plan: RunPlan,
                results: Mapping[str, Tuple[Dict, float, Optional[int]]]
                ) -> Dict:
        """The run metrics, from the plan and the step results alone. Its
        only Spark job is the merge of the groups' stats sketches."""
        cfg = self.cfg
        group_res = [res for key, res in results.items()
                     if key.startswith("group_")]
        group_recs = [rec for rec, _, _ in group_res]
        group_secs = [sec for _, sec, _ in group_res]
        group_jobs = [jobs for _, _, jobs in group_res]
        uniq_rec, uniq_sec, uniq_jobs = results["_global_uniqueness"]
        drift_rec, drift_sec, drift_jobs = results.get(
            "_global_drift", ({}, 0.0, 0))
        group_stats = [rec["observed"] for rec in group_recs]
        rows_processed = sum(rec["rows"] for rec in group_recs)
        integrity = [rec["row_integrity"] for rec in group_recs
                     if "row_integrity" in rec]
        col_stats = (_merge_observed_stats(group_stats,
                                           list(cfg.stat_cols),
                                           spark=self.spark)
                     if group_stats else None)

        wall = time.time() - plan.started
        metrics = {
            "rows": rows_processed,
            "partitions": plan.partitions,
            "groups_run": len(plan.groups),
            "resumed": plan.resume,
            "violations": None if plan.sink else sum(
                rec["violations"] for rec in group_recs),
            "uniqueness_violations": int(uniq_rec.get("violations", 0)),
            "drift": list(drift_rec.get("drift") or []),
            "column_stats": col_stats,
            "wall_sec": wall,
            "rows_per_sec": rows_processed / wall if wall > 0 else None,
            # per-step walls (the global steps overlap the groups, and
            # groups overlap under group_concurrency>1, so these sum past
            # wall_sec by design): where a slow run went —
            # the first question a reader of the run metrics asks
            "phase_sec": {
                # compile, dim read, prepare + annotate, listing, split
                "plan": round(plan.plan_sec, 3),
                "groups_max": round(max(group_secs, default=0.0), 3),
                "groups_sum": round(sum(group_secs), 3),
                "uniqueness": round(uniq_sec, 3),
                "drift": round(drift_sec, 3),
            },
            # the Spark jobs each step ran, counted by its job tag (None
            # without pinned threads)
            "phase_jobs": {
                "groups": None if None in group_jobs else sum(group_jobs),
                "uniqueness": uniq_jobs,
                "drift": drift_jobs,
            },
        }
        if cfg.schema_contract:
            metrics["schema_violations"] = plan.schema_viols
        if cfg.observe_rule_counts and group_stats:
            # metadata from the run's one compile, whose entries every
            # group's tallies were built from; counts are plain sums
            # across groups
            metrics["rule_counts"] = []
            for i, e in enumerate(plan.compiled.entries):
                ev = sum(int(g.get(f"__rule{i}__ev") or 0)
                         for g in group_stats)
                ps = sum(int(g.get(f"__rule{i}__ps") or 0)
                         for g in group_stats)
                metrics["rule_counts"].append(
                    {"rule_id": e.rule_id, "rule_path": e.path,
                     "rule_name": e.rule_name,
                     "evaluated": ev, "passed": ps, "failed": ev - ps})
        if uniq_rec.get("certificate"):
            # the clustered path's runtime exactness verdict (free: built
            # from the boundary rows the merge already collected)
            metrics["uniqueness_certificate"] = uniq_rec["certificate"]
        if plan.table_integrity and plan.groups:
            # non-hive layout: one whole-table footer pass vs the run's
            # total observed rows (per-group pruning is impossible here)
            metrics["row_integrity"] = _row_integrity(
                rows_processed, *plan.row_source(None))
        elif integrity:
            metrics["row_integrity"] = {
                "ok": all(g["ok"] for g in integrity),
                "rows_expected": sum(g["rows_expected"]
                                     for g in integrity),
                "unreadable_files": sum(g["unreadable_files"]
                                        for g in integrity)}
        return metrics
