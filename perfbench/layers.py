"""The per-layer half of a traced run: after the timed passes have run
inside ``runner.job`` spans, one isolated call into each layer's public
entry point, each in its own span and forced with a ``count()``, an
aggregation or a write on the workload's own input. Nothing here changes
the layers; it only calls them from outside.

Spans of one traced run::

    runner.job                 ClipsValidationJob.run, per timed pass
    layers
    ├── sources.list           sources.tables.list_partition_values
    ├── compiler.compile       compiler.compile_ruleset
    ├── engine.scan            group_violations, audio off
    │   └── engine.group       one per partition group
    ├── audio.files_decode     audio.files.decode_check_files
    ├── audio.arrow_decode     audio.decode.decode_check
    ├── audio.kernel           parse_wav + SNR over a fixed sample
    ├── operators.uniqueness   uniqueness_check(layout="any")
    ├── operators.drift        snapshot + drift_check
    ├── operators.stats        stats_exprs sketches, one aggregation
    ├── sinks.write            RunSink.overwrite_partitions
    └── sinks.mark             Manifest.mark
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Dict, List

from spans import Tracer, span_cost_s, unattributed

#: per-codec kernel sample: §1b rows [KERNEL_START, +KERNEL_ROWS) — all
#: seven codecs, stereo and EXTENSIBLE variants included, the same on
#: every workload and seed so kernel_us moves only when the code does
KERNEL_START = 0
KERNEL_ROWS = 280
KERNEL_CODECS = ("pcm_s16le", "ulaw", "alaw", "adpcm_ima", "pcm_u8",
                 "pcm_s24le", "pcm_f32le")
KERNEL_REPEATS = 3


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6


def kernel_sample(cache_dir: str) -> str:
    """Parquet file of the fixed §1b kernel sample (built once)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from inputs import generator_hash
    from jio_spark.audio.synth import make_row_mixed
    path = os.path.join(cache_dir, f"kernel_sample_{generator_hash()}"
                                   ".parquet")
    if not os.path.exists(path):
        rows = [make_row_mixed(i) for i in
                range(KERNEL_START, KERNEL_START + KERNEL_ROWS)]
        tbl = pa.table({"clip_id": [r[0] for r in rows],
                        "bytes": [bytes(r[1]) for r in rows]})
        os.makedirs(cache_dir, exist_ok=True)
        pq.write_table(tbl, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def kernel_us(sample_path: str) -> Dict[str, float]:
    """µs per clip of parse_wav + decode + SNR, per container codec, in
    this process. ADPCM clips decode in one stacked call per block
    geometry, as a decode batch does. Clips that fail to parse are
    skipped."""
    import pyarrow.parquet as pq
    from jio_spark.audio.codecs import (AdpcmCoded,
                                        adpcm_ima_decode_stacked,
                                        adpcm_stereo_decode_stacked,
                                        parse_wav, snr_db_vs_period)
    from jio_spark.audio.synth import expected_period
    tbl = pq.read_table(sample_path)
    clips = []
    for cid, raw in zip(tbl.column("clip_id").to_pylist(),
                        tbl.column("bytes").to_pylist()):
        try:
            _, _, codec = parse_wav(raw)
        except (ValueError, TypeError):
            continue
        clips.append((codec, raw, expected_period(int(cid[-12:]))))
    best: Dict[str, float] = {}
    for codec in KERNEL_CODECS:
        mine = [(raw, ref) for c, raw, ref in clips if c == codec]
        if not mine:
            continue
        runs = []
        for _ in range(KERNEL_REPEATS):
            t0 = time.perf_counter()
            adpcm: Dict = {}
            for raw, (period, n_ref) in mine:
                coded, _, fmt = parse_wav(raw)
                if isinstance(coded, AdpcmCoded):
                    key = (coded.block_align, coded.channels)
                    adpcm.setdefault(key, []).append((coded, period, n_ref))
                else:
                    snr_db_vs_period(coded, fmt, period, n_ref)
            for (ba, ch), items in adpcm.items():
                fn = (adpcm_stereo_decode_stacked if ch == 2
                      else adpcm_ima_decode_stacked)
                pcms = fn([c.payload for c, _, _ in items], ba)
                for (coded, period, n_ref), pcm in zip(items, pcms):
                    snr_db_vs_period(pcm[:len(coded)], "pcm_s16le",
                                     period, n_ref)
            runs.append((time.perf_counter() - t0) / len(mine) * 1e6)
        best[codec] = statistics.median(runs)
    return best


def traced_layers(spark, wl, job, df, table, out: str, tr: Tracer,
                  job_pass, spark_jobs: int, trace_dir: str) -> Dict:
    """The isolated layer calls, after the traced timed passes
    (``runner.job`` spans already in ``tr``; ``job_pass`` is the last
    one). Returns every per-layer metric as
    ``{name: {"value": v, "unit": u}}``."""
    from pyspark.sql import functions as F
    from jio_spark.audio.decode import decode_check
    from jio_spark.audio.files import decode_check_files
    from jio_spark.compiler import compile_ruleset
    from jio_spark.operators.drift import drift_check, snapshot
    from jio_spark.operators.stats import stats_exprs
    from jio_spark.operators.uniqueness import uniqueness_check
    from jio_spark.runner import (DRIFT_SPECS, ClipsJobConfig,
                                  ClipsValidationJob, _part_filter)
    from jio_spark.sinks.writers import Manifest, RunSink
    from jio_spark.sources.tables import list_partition_values

    cfg = job.cfg
    scratch = os.path.join(os.path.dirname(out), f"{tr.run_id}_layers")
    has_audio = "bytes" in df.columns
    metrics = job_pass.metrics
    phase = metrics["phase_sec"]
    job_span = [s for s in tr.spans if s.name == "runner.job"][-1]

    with tr.span("layers"):
        with tr.span("sources.list"):
            parts = list_partition_values(spark, table.root,
                                          cfg.partition_col)
        groups = [parts[i:i + cfg.group_size]
                  for i in range(0, len(parts), cfg.group_size)]

        with tr.span("compiler.compile"):
            compiled = compile_ruleset(df, cfg.rules.clone())

        scan_job = ClipsValidationJob(
            spark, ClipsJobConfig(**{**wl.job, "audio_check": False}),
            codec_dim=job.codec_dim)
        viol_rows = 0
        with tr.span("engine.scan"):
            for g in groups:
                with tr.span("engine.group"):
                    gdf = df.where(_part_filter(cfg.partition_col, g))
                    viol_rows += scan_job.group_violations(
                        gdf, group=g, table_root=table.root).count()

        failures = {"files": 0, "arrow": 0}
        payload_mb = 0.0
        if has_audio:
            def failed(dec) -> int:
                row = dec.agg(F.sum(F.when(~F.col("decode_ok"), 1)
                                    .otherwise(0))).collect()[0]
                return int(row[0] or 0)
            with tr.span("audio.files_decode"):
                failures["files"] = failed(decode_check_files(
                    spark, table.root,
                    snr_threshold=cfg.snr_threshold))
            with tr.span("audio.arrow_decode"):
                failures["arrow"] = failed(decode_check(
                    df, snr_threshold=cfg.snr_threshold,
                    passthrough=[cfg.partition_col]))
            payload_mb = df.agg(F.sum(F.length("bytes"))) \
                .collect()[0][0] / 1e6
            if failures["files"] != failures["arrow"]:
                raise RuntimeError(
                    f"decode paths disagree on failures: {failures}")
        sample = kernel_sample(os.path.dirname(table.root))
        with tr.span("audio.kernel"):
            kernels = kernel_us(sample)

        with tr.span("operators.uniqueness"):
            uniqueness_check(df, "clip_id", layout="any").count()
        with tr.span("operators.drift"):
            snap = snapshot(df, DRIFT_SPECS)
            if job.baseline is not None:
                drift_check(snap, job.baseline).collect()
        with tr.span("operators.stats"):
            df.agg(*stats_exprs(df, list(cfg.stat_cols),
                                quantiles=None, hll_sketch=True,
                                kll_quantiles=True)).collect()

        viols = spark.read.parquet(os.path.join(out, "violations"))
        viols = viols.cache()
        viols.count()
        sink = RunSink(scratch)
        with tr.span("sinks.write"):
            sink.overwrite_partitions(viols, "violations",
                                      cfg.partition_col)
        viols.unpersist()
        manifest = Manifest(scratch)
        mark_s: List[float] = []
        with tr.span("sinks.mark"):
            for k, g in enumerate(groups):
                t0 = time.perf_counter()
                manifest.mark(f"group_{k}", g, {"rows": 0})
                mark_s.append(time.perf_counter() - t0)

    os.makedirs(trace_dir, exist_ok=True)
    tr.write(os.path.join(trace_dir, f"{tr.run_id}.jsonl"))
    written_mb = _dir_mb(out)
    shutil.rmtree(scratch, ignore_errors=True)

    self_s = tr.self_times()
    dur = tr.durations()
    job_s = job_span.duration
    files_s = dur.get("audio.files_decode", 0.0)
    arrow_s = dur.get("audio.arrow_decode", 0.0)
    m = {
        "runner.job_s": (job_s, "s"),
        "runner.groups": (metrics["groups_run"], "count"),
        "runner.spark_jobs": (spark_jobs, "count"),
        "runner.groups_sum_s": (phase["groups_sum"], "s"),
        "runner.uniqueness_s": (phase["uniqueness"], "s"),
        "runner.drift_s": (phase["drift"], "s"),
        "runner.unattributed_s": (
            unattributed(job_s, self_s, list(wl.in_job)), "s"),
        # the spans a traced pass adds around run(): one
        "runner.tracing_overhead_s": (span_cost_s(), "s"),
        "sources.list_s": (dur["sources.list"], "s"),
        "compiler.compile_s": (dur["compiler.compile"], "s"),
        "compiler.rules": (len(compiled.entries), "count"),
        "engine.scan_s": (dur["engine.scan"], "s"),
        "engine.violation_rows": (viol_rows, "count"),
        "audio.files_decode_s": (files_s, "s"),
        "audio.arrow_decode_s": (arrow_s, "s"),
        "audio.exchange_s": (arrow_s - files_s, "s"),
        "audio.payload_mb": (payload_mb, "MB"),
        "audio.decode_failures": (failures["files"], "count"),
        "operators.uniqueness_s": (dur["operators.uniqueness"], "s"),
        "operators.drift_s": (dur["operators.drift"], "s"),
        "operators.stats_s": (dur["operators.stats"], "s"),
        "sinks.write_s": (dur["sinks.write"], "s"),
        # named _s as the layer's other timings; reported in ms
        "sinks.mark_s": (statistics.median(mark_s) * 1e3, "ms"),
        "sinks.bytes_written": (written_mb, "MB"),
    }
    for codec in KERNEL_CODECS:
        m[f"audio.kernel_us.{codec}"] = (kernels.get(codec, 0.0),
                                         "us/clip")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
