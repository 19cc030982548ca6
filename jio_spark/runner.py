"""The full validation job over the north-star clips table: schema rules +
audio decode + uniqueness + referential + stats + drift, with per-partition
checkpoint/resume (BASELINE.json north_rule, SURVEY.md §3.3 lifecycle).

The rule set is compiled once per run, before any group (compiling reads
only ``df.schema``, which every group frame shares); each group applies
that one compiled plan to its own ``df.where(...)`` slice.

Execution shape per partition group (a group = a batch of bucket_id
partitions, the resume granularity):

    scan(group) ──┬─ rule verdicts (Catalyst exprs, codegen)  ─┐
                  ├─ salted repartition → Arrow decode checks ─┼─ violations
                  └─ referential left_anti (broadcast dim)    ─┘   + metrics
    manifest.mark(group)        # written LAST → resume-safe

Global steps after all groups (recorded under their own manifest keys):
uniqueness on clip_id (duplicates span partition groups by construction)
and the drift snapshot/check.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from typing import Dict, List, Mapping, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .compiler import CompiledRuleSet, compile_ruleset
from .dsl import K, ObjectSchema
from .engine import rule_count_exprs
from .audio.decode import decode_check, decode_violations
from .audio.files import decode_check_files, is_hive_layout
from .operators.drift import HistSpec, drift_check, snapshot
from .operators.referential import referential_check
from .operators.schema import (raise_schema_violations,
                               schema_contract_violations)
from .operators.stats import stats_exprs
from .operators.uniqueness import uniqueness_check
from .sinks.writers import (Manifest, RunSink, frame_fingerprint,
                            ruleset_fingerprint)

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
            hlls = [bytes(g[f"{c}__hll"]) for g in group_stats
                    if g.get(f"{c}__hll") is not None]
            klls = [bytes(g[f"{c}__kll"]) for g in group_stats
                    if g.get(f"{c}__kll") is not None]
            # all-null columns: the sketches are EMPTY — KLL's quantile
            # extractor throws on an empty merged sketch, and HLL's
            # answer is trivially 0 — so answer driver-side, no merge
            if hlls:
                if nonnull == 0:
                    entry["distinct"] = 0
                else:
                    sketch_rows += [(c, "hll", s) for s in hlls]
                    wanted.append((c, "hll"))
            if klls and nonnull > 0:
                sketch_rows += [(c, "kll", s) for s in klls]
                wanted.append((c, "kll"))
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
        # constant job count regardless of column count
        sdf = spark.createDataFrame(sketch_rows,
                                    "col string, kind string, s binary")
        aggs = []
        for c, kind in wanted:
            m = (F.col("col") == c) & (F.col("kind") == kind)
            if kind == "hll":
                aggs.append(F.hll_sketch_estimate(
                    F.hll_union_agg(F.when(m, F.col("s"))))
                    .alias(f"{c}__d"))
            else:
                aggs.append(F.kll_sketch_get_quantile_double(
                    F.kll_merge_agg_double(F.when(m, F.col("s"))),
                    F.array(*[F.lit(float(p)) for p in quantile_ps]))
                    .alias(f"{c}__q"))
        row = sdf.agg(*aggs).collect()[0]
        for c, kind in wanted:
            if kind == "hll":
                out[c]["distinct"] = int(row[f"{c}__d"])
            else:
                out[c]["quantiles"] = dict(
                    zip([str(p) for p in quantile_ps],
                        [float(v) for v in row[f"{c}__q"]]))
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
    return spark.createDataFrame(
        [("pcm_s16le", 16, "wav"), ("ulaw", 8, "wav"), ("alaw", 8, "wav"),
         ("adpcm_ima", 4, "wav"), ("pcm_u8", 8, "wav"),
         ("pcm_s24le", 24, "wav"), ("pcm_f32le", 32, "wav"),
         ("pcm_f64le", 64, "wav")],
        "codec string, bits_per_sample int, container string")


DRIFT_SPECS = {"dur_ms": HistSpec(200.0, 30000.0, 32),
               "sr_hz": HistSpec(0.0, 48000.0, 48)}


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
    knob outside its allowed values (``_CHOICES``) or
    ``violations_exemplars < 1`` in exemplars mode raises ``ValueError``
    naming the field."""
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
    #: submit this many partition groups as concurrent Spark jobs — the
    #: tail tasks of one group overlap the next group's scan instead of
    #: idling the cluster at each group barrier (resume granularity is
    #: unchanged: a group is still marked only when fully written)
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
        if self.violations_sink == "exemplars" \
                and self.violations_exemplars < 1:
            raise ValueError("violations_exemplars must be >= 1, got "
                             f"{self.violations_exemplars!r}")


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

    def group_violations(self, df: DataFrame, group=None,
                         table_root: Optional[str] = None,
                         observation=None,
                         footer_cache: Optional[dict] = None,
                         compiled: Optional[CompiledRuleSet] = None
                         ) -> DataFrame:
        """All per-row violations for a slice of the table, in the standard
        shape + partition column.

        ``compiled`` is the rule set compiled against a frame with
        ``df``'s schema; :meth:`run` compiles once and passes it to every
        group. Without it the rules are compiled here.

        Scan economy (SURVEY.md §4.2 "single-pass multi-metric"): the rule
        chain AND the referential check share ONE scan — the broadcast dim
        lookup is appended as one more element of the per-row violations
        array before the single explode, and the scan never reads `bytes`
        (column pruning). The audio decode is the only second scan, reading
        exactly (id, bytes, metadata)."""
        ids = ["clip_id", self.cfg.partition_col]
        if compiled is None:
            compiled = compile_ruleset(df, self.cfg.rules.clone())
        ann = compiled.prepare(df).withColumn(
            "_violations", compiled.violations_array)
        if observation is not None:
            # stats piggyback on the SAME scan (before the violation
            # filter drops passing rows) — no extra source read
            exprs = stats_exprs(df, list(self.cfg.stat_cols),
                                quantiles=None,
                                hll_sketch=True,
                                kll_quantiles=True)
            if self.cfg.observe_rule_counts:
                # per-rule verdict tallies on the same pass (the shared
                # recipe from engine.rule_count_exprs — summary() and
                # this path can never diverge)
                exprs += rule_count_exprs(compiled.entries)
            ann = ann.observe(observation, *exprs)

        if self.codec_dim is not None:
            dim = F.broadcast(self.codec_dim.select(
                F.col("codec"), F.lit(True).alias("_dim_hit"))
                .dropDuplicates(["codec"]))
            ann = ann.join(dim, on="codec", how="left")
            ref_fail = F.col("codec").isNotNull() & F.col("_dim_hit").isNull()
            ref_struct = F.struct(
                F.lit("codec").alias("rule_path"),
                F.lit("referential").alias("rule_name"),
                F.lit("exists in dim.codec").alias("expected"),
                F.col("codec").alias("actual"),
                F.concat(F.lit("field `codec` value "), F.col("codec"),
                         F.lit(" not found in dimension `codec`"))
                 .alias("message"))
            ann = ann.withColumn(
                "_violations",
                F.when(ref_fail,
                       F.concat("_violations", F.array(ref_struct)))
                 .otherwise(F.col("_violations")))

        # no size()>0 pre-filter: explode drops empty arrays itself;
        # the filter variant re-evaluates the violations-array expr in a
        # separate Filter node for surviving rows (measured cost-neutral
        # at sf0.1 — the single-evaluation plan is simply simpler)
        viols = (ann.select(*ids, F.explode("_violations").alias("_v"))
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

    # -- the full job ---------------------------------------------------------

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
        # ONE compile per run, before any output is touched: a rule on a
        # missing column fails here, and every group (and the rule_counts
        # metadata) reuses the plan instead of rebuilding its Column trees
        compiled = compile_ruleset(df, cfg.rules.clone())
        sink = RunSink(output_root) if output_root else None
        manifest = Manifest(output_root) if output_root else None
        if manifest and not resume:
            # a FRESH run into an existing root invalidates every old
            # completion record: if this run crashes, a later resume
            # must re-run only what THIS run didn't finish — stale
            # records from a previous (possibly differently-configured)
            # run would otherwise be trusted and their groups skipped
            manifest.clear()
            # ... and every old step output: the violations writer is a
            # DYNAMIC partition overwrite, which never deletes a
            # partition absent from the new data — a partition dirty
            # last run but clean now would keep its stale violation
            # rows under this run's run.json
            sink.clear_outputs(STEP_OUTPUTS)

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
            # rebuilt dim flags every row carrying it) — tiny broadcast
            # frame, so hashing it costs one dimension-sized collect
            "codec_dim": frame_fingerprint(self.codec_dim),
            "partition_col": cfg.partition_col,
            "audio_check": cfg.audio_check,
            "check_reference": cfg.check_reference,
            "snr_threshold": cfg.snr_threshold,
            "decode_on_corrupt": cfg.decode_on_corrupt,
            "decode_source": cfg.decode_source,
            "uniqueness_layout": cfg.uniqueness_layout,
            "uniqueness_on_unclustered": cfg.uniqueness_on_unclustered,
            # the sink shape changes WHICH rows a completed group wrote:
            # resuming a full-mode root in exemplars mode (or under a
            # different cap) would mix bounded and unbounded groups in
            # one violations dir
            "violations_sink": cfg.violations_sink,
            **({"violations_exemplars": cfg.violations_exemplars}
               if cfg.violations_sink == "exemplars" else {}),
        }
        # run.json lineage: the semantics plus the run this one resumes
        lineage = dict(semantics)
        if sink:
            prev = sink.read_run_metadata()
            if resume and prev:
                # fingerprint keys added AFTER a root was written are
                # absent from its run.json; absent means "was at the
                # old default", NOT "unknown, skip" — otherwise resuming
                # a pre-upgrade (implicitly full-mode) root in exemplars
                # mode would silently mix unbounded and capped groups,
                # the exact thing the violations_sink key refuses
                prev = {"violations_sink": "full", **prev}
                diffs = {k: {"completed_groups_used": prev[k], "now": v}
                         for k, v in semantics.items()
                         if k in prev and prev[k] != v}
                if diffs:
                    raise ValueError(
                        "resume would mix outputs from two different "
                        f"configurations: {diffs} — rerun without "
                        "resume (full rewrite) or restore the original "
                        "config")
                if prev.get("run_id"):
                    lineage["resumed_from"] = prev["run_id"]
            sink.write_run_metadata(lineage)

        # partition discovery is metadata-only when the table location is
        # known (filesystem listing of hive dirs / Iceberg .partitions);
        # the distinct() job — a full scan at 10^12 rows — is only the
        # fallback for ad-hoc in-memory frames
        parts: List = []
        hive_listed = False
        if table_root:
            from .sources.tables import list_partition_values
            parts = list_partition_values(self.spark, table_root,
                                          cfg.partition_col,
                                          fmt=cfg.table_format)
            hive_listed = bool(parts)
            if parts:
                # the wanted-set must isin-match the column's real type
                # or every group filter selects zero rows while being
                # marked complete — refuse at plan time, not silently
                from .sources.tables import check_partition_value_types
                check_partition_value_types(
                    parts, df.schema[cfg.partition_col].dataType)
        if not parts:
            from .sources.tables import none_last_sorted
            raw = [r[0] for r in
                   df.select(cfg.partition_col).distinct().collect()]
            # NULL partition values (the very case the hive listing
            # degrades to this fallback for) ride as an explicit last
            # member whose row filter is isNull()
            parts = none_last_sorted(raw)
        done = manifest.completed_partitions() if (manifest and resume) \
            else set()
        todo = [p for p in parts if p not in done]
        # can the files decode and its footer audit dir-prune per group?
        # Asked of the decode's own listing (plain paths and URIs alike),
        # once per run; a listed hive partition set already answers it
        files_decode = self._files_decode(table_root)
        hive = files_decode and (hive_listed or is_hive_layout(
            table_root, cfg.partition_col))
        if files_decode and cfg.audio_check and not hive:
            # non-hive layout (e.g. a clip_id-sorted clustered table: the
            # partition value is a DATA column, no directories to prune):
            # run ONE full-table group. Splitting by column values would
            # make decode_check_files — which cannot dir-prune such a
            # layout — decode the ENTIRE table once per group, count the
            # same decode violations per group, and overwrite every
            # sink partition from each group. A hive-laid-out table whose
            # METADATA listing merely degraded (null-partition dir,
            # unreadable catalog) keeps its normal per-group batches:
            # decode_check_files dir-prunes it fine.
            groups = [todo] if todo else []
        else:
            groups = [todo[i:i + cfg.group_size]
                      for i in range(0, len(todo), cfg.group_size)]

        # -- row-integrity setup: decided ONCE per run, not per group --
        # parquet: the footer audit can prune per GROUP only on a hive
        # layout; a non-hive layout (partition value is a data column)
        # would count the WHOLE table against each group's rows — a
        # false flag on every healthy group — so it audits at TABLE
        # granularity instead, and only when the run spans every
        # partition (a resumed subset has no whole-table truth either).
        # iceberg: the .partitions read is group-independent — one
        # manifest read per run, indexed per group.
        parquet_table_audit = (files_decode and not hive
                               and len(todo) == len(parts))
        iceberg_counts = None
        if table_root and cfg.table_format == "iceberg":
            from .sources.tables import iceberg_partition_row_counts
            iceberg_counts = iceberg_partition_row_counts(
                self.spark, table_root, cfg.partition_col)

        total_viols = 0
        rows_processed = 0
        # Spark job SUBMISSION stays concurrent across groups; only the
        # sink COMMITS queue. Concurrent committers sharing one output
        # root (directory listing, _SUCCESS markers, object-store rename)
        # are not a guaranteed-safe pattern even with disjoint dynamic
        # partitions.
        sink_lock = threading.Lock()

        def run_group(group):
            g_t0 = time.time()
            gdf = df.where(_part_filter(cfg.partition_col, group))
            obs = Observation(f"stats_{_group_key(group)}")
            # one footer read per file per group: the decode's split
            # listing and the row-integrity audit below share it
            fcache: Dict = {}
            viols = self.group_violations(gdf, group=group,
                                          table_root=table_root,
                                          observation=obs,
                                          footer_cache=fcache,
                                          compiled=compiled)
            if sink:
                out_v = viols
                if cfg.violations_sink == "exemplars":
                    from .sinks.writers import exemplar_cap
                    out_v = exemplar_cap(viols, cfg.violations_exemplars,
                                         cfg.partition_col)
                with sink_lock:
                    sink.overwrite_partitions(out_v, "violations",
                                              cfg.partition_col)
                g_viols = None  # counted lazily from written data if needed
            else:
                g_viols = viols.count()
            g_stats = obs.get  # available once the action above ran
            g_rows = int(g_stats["rows"])
            g_integrity = None
            if hive:
                # scan-vs-footer audit: metadata-only, prunes the same
                # directories the decode does. Catches the JVM scan
                # silently dropping corrupt files (ignoreCorruptFiles)
                # — a "successful" run over less data than the table
                # holds is flagged, not trusted.
                from .audio.files import footer_row_counts
                exp, unreadable = footer_row_counts(
                    table_root, group, cfg.partition_col,
                    footer_cache=fcache)
                g_integrity = {
                    "rows_expected": exp,
                    "unreadable_files": unreadable,
                    "ok": bool(g_rows == exp and unreadable == 0)}
            elif iceberg_counts is not None and group:
                # Iceberg analog: .partitions record_count is the
                # committed truth for the snapshot (manifest read, no
                # data files) — same audit, different metadata source
                exp = sum(iceberg_counts.get(p, 0) for p in group)
                g_integrity = {
                    "rows_expected": exp,
                    "unreadable_files": 0,
                    "ok": bool(g_rows == exp)}
            if manifest:  # marked LAST, after the group's writes → resume-safe
                details = {"rows": g_rows}
                if g_integrity is not None:
                    details["row_integrity"] = g_integrity
                manifest.mark(f"group_{_group_key(group)}", group, details)
            return (g_rows, g_viols, g_stats, g_integrity,
                    time.time() - g_t0)

        def recorded(step_key: str) -> Optional[Dict]:
            """A global step's recorded results when a resumed run finds
            it complete, else None: the step is skipped, but its RESULTS
            must survive into this run's metrics/run.json — a 0 would
            contradict the written outputs."""
            if not (manifest and resume):
                return None
            rec = manifest.completed().get(step_key)
            return None if rec is None else rec.get("metrics", {})

        # global step 1: uniqueness (duplicate ids cross partition groups)
        uniq_cert: Dict = {}

        def run_uniqueness():
            u_t0 = time.time()
            uniq_key = "_global_uniqueness"
            rec = recorded(uniq_key)
            if rec is not None:
                uniq_cert.update(rec.get("certificate") or {})
                return int(rec.get("violations", 0)), time.time() - u_t0
            uv = uniqueness_check(
                df, "clip_id", layout=cfg.uniqueness_layout,
                on_unclustered=cfg.uniqueness_on_unclustered,
                certificate=uniq_cert)
            if sink:
                # the write's own observed row count: a count() after it
                # would re-plan the whole-table groupBy
                seen = Observation()
                uv = uv.observe(seen, F.count(F.lit(1)).alias("rows"))
                # overwrite, not append: a crash between this write and
                # the step's manifest mark must not duplicate rows when
                # the resumed run re-executes the step
                with sink_lock:
                    sink.overwrite(uv, "uniqueness_violations")
                n = int(seen.get["rows"])
            else:
                n = uv.count()
            if manifest:
                details = {"violations": n}
                if uniq_cert:
                    details["certificate"] = uniq_cert
                manifest.mark(uniq_key, [], details)
            return n, time.time() - u_t0

        # global step 2: drift snapshot + check
        def run_drift():
            d_t0 = time.time()
            if not cfg.drift:
                return [], time.time() - d_t0
            drift_key = "_global_drift"
            rec = recorded(drift_key)
            if rec is not None:
                return list(rec.get("drift") or []), time.time() - d_t0
            snap = snapshot(df, DRIFT_SPECS)
            if sink:
                # same single-committer rule as the group/uniqueness
                # writes: all commits into one output root queue
                with sink_lock:
                    snap.write.mode("overwrite").parquet(
                        sink.path("snapshot"))
            if self.baseline is None:
                if manifest:
                    # baseline-less runs still pay the snapshot scan —
                    # record the (empty) result so resume skips it too
                    manifest.mark(drift_key, [], {"drift": []})
                return [], time.time() - d_t0
            dc = drift_check(snap, self.baseline)
            rows = [r.asDict() for r in dc.collect()]
            if sink:
                with sink_lock:
                    dc.write.mode("overwrite").parquet(sink.path("drift"))
            if manifest:  # marked LAST, after the drift write → resume-safe
                manifest.mark(drift_key, [], {"drift": rows})
            return rows, time.time() - d_t0

        if cfg.group_concurrency > 1:
            # the read-only global steps overlap the group jobs: Spark
            # schedules all of them; no step depends on another's output
            from concurrent.futures import ThreadPoolExecutor
            # the global steps get their OWN two workers: sharing one
            # oversized pool would let finished global slots run extra
            # groups, exceeding the group_concurrency contract the user
            # set to bound concurrent Spark jobs
            with ThreadPoolExecutor(2) as global_pool, \
                    ThreadPoolExecutor(cfg.group_concurrency) as pool:
                uniq_f = global_pool.submit(run_uniqueness)
                drift_f = global_pool.submit(run_drift)
                results = list(pool.map(run_group, groups))
                uniq_viols, uniq_sec = uniq_f.result()
                drift_rows, drift_sec = drift_f.result()
        else:
            results = [run_group(g) for g in groups]
            uniq_viols, uniq_sec = run_uniqueness()
            drift_rows, drift_sec = run_drift()

        group_stats = []
        integrity = []
        group_secs = []
        for g_rows, g_viols, g_stats, g_integrity, g_sec in results:
            if g_viols is not None:
                total_viols += g_viols
            rows_processed += g_rows
            group_stats.append(g_stats)
            if g_integrity is not None:
                integrity.append(g_integrity)
            group_secs.append(g_sec)
        rule_counts = None
        if cfg.observe_rule_counts and group_stats:
            # metadata from the run's one compile, whose entries every
            # group's tallies were built from; counts are plain sums
            # across groups
            rule_counts = []
            for i, e in enumerate(compiled.entries):
                ev = sum(int(g.get(f"__rule{i}__ev") or 0)
                         for g in group_stats)
                ps = sum(int(g.get(f"__rule{i}__ps") or 0)
                         for g in group_stats)
                rule_counts.append(
                    {"rule_id": e.rule_id, "rule_path": e.path,
                     "rule_name": e.rule_name,
                     "evaluated": ev, "passed": ps, "failed": ev - ps})
        col_stats = (_merge_observed_stats(group_stats,
                                           list(cfg.stat_cols),
                                           spark=self.spark)
                     if group_stats else None)

        wall = time.time() - t0
        metrics = {
            "rows": rows_processed,
            "partitions": len(parts),
            "groups_run": len(groups),
            "resumed": resume,
            "violations": total_viols if not sink else None,
            "uniqueness_violations": uniq_viols,
            "drift": drift_rows,
            "column_stats": col_stats,
            "wall_sec": wall,
            "rows_per_sec": rows_processed / wall if wall > 0 else None,
            # per-step walls (steps overlap under group_concurrency>1, so
            # these sum past wall_sec by design): where a slow run went —
            # the first question a reader of the run metrics asks
            "phase_sec": {
                "groups_max": round(max(group_secs), 3) if group_secs
                else 0.0,
                "groups_sum": round(sum(group_secs), 3),
                "uniqueness": round(uniq_sec, 3),
                "drift": round(drift_sec, 3),
            },
        }
        if cfg.schema_contract:
            metrics["schema_violations"] = schema_viols
        if rule_counts is not None:
            metrics["rule_counts"] = rule_counts
        if uniq_cert:
            # the clustered path's runtime exactness verdict (free: built
            # from the boundary rows the merge already collected)
            metrics["uniqueness_certificate"] = uniq_cert
        if parquet_table_audit and groups:
            # non-hive layout: one whole-table footer pass vs the run's
            # total observed rows (per-group pruning is impossible here)
            from .audio.files import footer_row_counts
            exp, unreadable = footer_row_counts(
                table_root, None, cfg.partition_col)
            metrics["row_integrity"] = {
                "ok": bool(rows_processed == exp and unreadable == 0),
                "rows_expected": exp,
                "unreadable_files": unreadable}
        elif integrity:
            metrics["row_integrity"] = {
                "ok": all(g["ok"] for g in integrity),
                "rows_expected": sum(g["rows_expected"]
                                     for g in integrity),
                "unreadable_files": sum(g["unreadable_files"]
                                        for g in integrity)}
        if sink:
            # keep the run-start lineage keys — the final write replaces
            # run.json wholesale
            sink.write_run_metadata({
                **lineage,
                "metrics": {k: v for k, v in metrics.items()
                            if k != "drift"},
            })
        return metrics
