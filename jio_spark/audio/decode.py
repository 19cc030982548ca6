"""The audio decode-and-check batch rule (north_star: "audio-specific rules
decode bytes per codec in pandas/Arrow UDF batches and assert sr_hz/dur_ms
consistency with decoded-PCM allclose at SNR>=30dB plus transcript equality
versus the reference").

This is the engine's one deliberately non-expression rule: byte decoding
cannot be a Column expression, so it runs as ``mapInPandas`` over Arrow
batches — numpy-vectorized G.711/PCM decode, zero per-row Python objects
beyond the payload slices (input_hint bans per-row Python UDFs; Arrow
batches are the sanctioned path).

Skew: decode cost is proportional to payload length and varies by codec
(FIXTURES.md makes codec deliberately skewed 70/20/10). ``salted_repartition``
spreads (codec, duration-bucket) groups uniformly by hashing them together
with a per-row salt derived from clip_id — an explicit, deterministic
redistribution (north_star: "Salted repartitioning handles codec/duration
skew explicitly").
"""

from __future__ import annotations

from typing import Iterator, Mapping, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .codecs import (SAMPLE_CODECS, AdpcmCoded, adpcm_ima_decode_stacked,
                     parse_wav, snr_db_vs_period)
from .synth import expected_period, expected_transcript

DECODE_RESULT_SCHEMA = (
    "clip_id string, decode_ok boolean, codec_match boolean, "
    "sr_match boolean, dur_match boolean, snr_db double, snr_ok boolean, "
    "transcript_match boolean, n_samples long, error string")


def salted_repartition(df: DataFrame, codec_col: str = "codec",
                       dur_col: str = "dur_ms", id_col: str = "clip_id",
                       num_partitions: Optional[int] = None,
                       mode: str = "uniform",
                       salt_buckets: int = 16) -> DataFrame:
    """Redistribute rows before the decode map so no partition is
    dominated by heavy (long-duration / expensive-codec) rows.

    ``mode='uniform'`` (default, correct for per-row maps): hash every row
    by its id — long clips scatter uniformly, so per-partition COST is
    uniform. Measured 5× faster than grouped salting at 20k clips: group-
    colocated salting parks the expensive duration bucket on few
    partitions and the stage ends in stragglers.

    ``mode='grouped'``: classic skew salting — (codec, dur-bucket, salt)
    keys spread each heavy GROUP over ``salt_buckets`` partitions while
    keeping group members colocated; use when a downstream grouped
    aggregation on (codec, bucket) follows the decode.

    Deterministic (no rand()) — reruns land identically."""
    if mode not in ("uniform", "grouped"):
        # a typo'd mode must not silently select the 5x-slower grouped
        # path (same loud-knob rule as the runner's mode validations)
        raise ValueError(f"mode must be 'uniform' or 'grouped', "
                         f"got {mode!r}")
    if mode == "uniform":
        key = F.xxhash64(F.col(id_col))
    else:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        key = F.xxhash64(F.col(codec_col),
                         F.floor(F.col(dur_col) / F.lit(2000)), salt)
    if num_partitions:
        return df.repartition(num_partitions, key)
    return df.repartition(key)


#: samples decoded per stacked call (int16 ≈ 2 bytes each): bounds the
#: deferred path's temporaries the way codecs._SNR_BLOCK bounds the fused
#: kernel's — an ADPCM-heavy 10k-row Arrow batch of multi-second clips
#: must never materialize the whole batch's PCM at once
_ADPCM_STACK_SAMPLES = 1 << 22


def _fill_adpcm_snr(pending, out, adpcm_thr: float) -> None:
    """Stacked-decode every deferred ADPCM row of a batch and write its
    snr_db/snr_ok verdicts against the pre-resolved adpcm gate.
    Grouped by (block_align, channels) — blocks of different geometry
    cannot share a matrix, and stereo blocks decode with the stacked
    decoder's ``channels=2`` de-interleaving — and chunked to
    ≤_ADPCM_STACK_SAMPLES decoded samples per stacked call, so
    temporaries stay ~MBs however large the Arrow batch; within a chunk
    ONE call runs the sequential recurrence for all clips (both stereo
    channels included) at once. The SNR itself reuses the fused
    cache-blocked kernel on the decoded PCM (lut-less path), so deferred
    rows get bit-identical accumulation to the non-deferred codecs."""
    by_geom: dict = {}
    for item in pending:
        key = (item[1].block_align, item[1].channels)
        by_geom.setdefault(key, []).append(item)
    for (ba, ch), items in by_geom.items():
        chunk, budget = [], _ADPCM_STACK_SAMPLES
        for item in items:
            chunk.append(item)
            budget -= len(item[1]) * ch
            if budget <= 0:
                _snr_one_stack(chunk, ba, ch, out, adpcm_thr)
                chunk, budget = [], _ADPCM_STACK_SAMPLES
        if chunk:
            _snr_one_stack(chunk, ba, ch, out, adpcm_thr)


def _snr_one_stack(items, ba: int, ch: int, out,
                   adpcm_thr: float) -> None:
    decoded = adpcm_ima_decode_stacked([c.payload for _, c, _, _ in items],
                                       ba, ch)
    for (j, coded, period, n_ref), pcm in zip(items, decoded):
        s = snr_db_vs_period(pcm[:len(coded)], "pcm_s16le", period, n_ref)
        out["snr_db"][j] = s
        out["snr_ok"][j] = bool(s >= adpcm_thr)


#: every codec parse_wav can return — the gate mapping's key space is
#: closed, so an unknown key is always a typo that would silently fall
#: to the default gate
KNOWN_CODECS = frozenset(
    [codec for codec, _, _ in SAMPLE_CODECS.values()] + ["adpcm_ima"])


def validate_gates(snr_threshold) -> None:
    """Fail a malformed gate config at PLAN time (driver), not as a
    TypeError inside an executor's Arrow task minutes into the job.
    bool is rejected explicitly — it is an int subclass, and a `true`
    gate would silently become 1.0 dB (an SNR check in name only);
    non-finite floats are rejected too (json.loads('NaN'/'Infinity')
    produces them, and a NaN gate makes every `s >= thr` comparison
    False — silently failing ALL clips, the sneaky-gate class this
    validator exists to catch); unknown codec keys are rejected (the
    codec set is closed, so a typo like 'adcpm_ima' can only ever mean
    the default gate silently applied where a specific one was
    intended)."""
    import math

    def _num(v):
        return (isinstance(v, (int, float)) and not isinstance(v, bool)
                and math.isfinite(v))
    if isinstance(snr_threshold, Mapping):
        bad = {k: v for k, v in snr_threshold.items() if not _num(v)}
        if bad:
            raise ValueError(
                f"snr_threshold mapping has non-number or non-finite "
                f"gates: {bad!r}")
        unknown = sorted(set(snr_threshold) - KNOWN_CODECS - {"default"})
        if unknown:
            raise ValueError(
                f"snr_threshold has unknown codec keys {unknown}; "
                f"known: {sorted(KNOWN_CODECS)} + 'default'")
    elif not _num(snr_threshold):
        raise ValueError(
            f"snr_threshold must be a finite number or a per-codec "
            f"mapping, got {snr_threshold!r}")


def threshold_for(snr_threshold, codec: str) -> float:
    """Resolve the SNR gate for one codec. A scalar applies to every
    codec; a mapping is per-codec with a ``"default"`` fallback (30.0 if
    absent) — lossy codecs have different honest floors (G.711 ~38 dB on
    the fixture sines, IMA ADPCM ~28-38 dB depending on f/sr), and one
    blanket number either masks G.711 regressions or flags healthy ADPCM
    clips (codec physics, pinned in test_audio_adpcm.py)."""
    if isinstance(snr_threshold, Mapping):
        v = snr_threshold.get(codec)
        if v is None:
            v = snr_threshold.get("default", 30.0)
        return float(v)
    return float(snr_threshold)


def _unasserted_results(n: int) -> dict:
    """Decode-result columns (all but ``clip_id``) for ``n`` rows before
    any verdict: ``decode_ok`` False, every other flag at its
    NOT-ASSERTED value (True), ``snr_db`` NaN, ``n_samples`` 0, no
    error. A row that never decodes — a corrupt payload, an unreadable
    file or row group (files.py) — is ONE defect and emits exactly the
    decode violation; zeros would fabricate codec/sr/dur/snr/transcript
    violations on top."""
    return {
        "decode_ok": np.zeros(n, dtype=bool),
        "codec_match": np.ones(n, dtype=bool),
        "sr_match": np.ones(n, dtype=bool),
        "dur_match": np.ones(n, dtype=bool),
        "snr_db": np.full(n, np.nan),
        "snr_ok": np.ones(n, dtype=bool),
        "transcript_match": np.ones(n, dtype=bool),
        "n_samples": np.zeros(n, dtype=np.int64),
        "error": np.array([None] * n, dtype=object),
    }


def _decode_batches(check_reference: bool, snr_threshold,
                    dur_tolerance_ms: int,
                    passthrough: Sequence[str] = ()):
    # resolve the per-codec gates once per task, not once per clip —
    # threshold_for's isinstance+get is cheap but this is the hot loop
    thr_memo: dict = {}

    def _thr(codec: str) -> float:
        v = thr_memo.get(codec)
        if v is None:
            thr_memo[codec] = v = threshold_for(snr_threshold, codec)
        return v

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            # pull columns out of pandas once — per-row .iloc is the
            # hot-loop tax in Arrow-batched UDFs
            ids = pdf["clip_id"].tolist()
            raws = pdf["bytes"].tolist()
            codecs = pdf["codec"].tolist()
            srs = pdf["sr_hz"].tolist()
            durs = pdf["dur_ms"].tolist()
            transcripts = (pdf["transcript"].tolist()
                           if check_reference else None)
            # on a successful decode each flag is overwritten by its
            # real verdict; with check_reference off the snr/transcript
            # flags keep their not-asserted defaults
            out = {"clip_id": ids, **_unasserted_results(n)}
            for c in passthrough:
                out[c] = pdf[c].values
            # ADPCM rows defer their SNR to one stacked decode after the
            # row loop: the codec's per-sample recurrence is paid once per
            # BATCH (vectorized across every block of every ADPCM clip),
            # not once per clip (codecs.adpcm_ima_decode_stacked)
            adpcm_pending: list = []
            for j in range(n):
                try:
                    # zero-copy parse; G.711/PCM decode is fused into the
                    # blocked SNR scan below (never materializes the full
                    # PCM); ADPCM decodes in bounded stacked chunks after
                    # the row loop (_fill_adpcm_snr)
                    coded, sr, fmt_codec = parse_wav(bytes(raws[j]))
                except (ValueError, TypeError) as e:
                    out["error"][j] = str(e)
                    continue
                out["decode_ok"][j] = True
                out["n_samples"][j] = len(coded)
                out["codec_match"][j] = (fmt_codec == codecs[j])
                # NULL metadata must become a failed assertion, not an
                # int(NaN) crash that kills the whole task (Arrow ships
                # nullable ints as NaN floats)
                sr_v, dur_v = srs[j], durs[j]
                out["sr_match"][j] = (not pd.isna(sr_v)
                                      and sr == int(sr_v))
                dur_actual = 1000.0 * len(coded) / sr if sr else 0.0
                out["dur_match"][j] = (not pd.isna(dur_v)
                                       and abs(dur_actual - int(dur_v))
                                       <= dur_tolerance_ms)
                if check_reference:
                    cid = ids[j]
                    try:
                        i = int(cid.rsplit("_", 1)[1])
                    except (IndexError, ValueError, AttributeError):
                        # AttributeError: a NULL clip_id (None.rsplit)
                        # is bad data, not a task-killing crash
                        out["error"][j] = f"unparseable clip_id {cid}"
                        out["snr_ok"][j] = False
                        out["transcript_match"][j] = False
                        continue
                    period, n_ref = expected_period(i)
                    if isinstance(coded, AdpcmCoded):
                        adpcm_pending.append((j, coded, period, n_ref))
                    else:
                        s = snr_db_vs_period(coded, fmt_codec, period,
                                             n_ref)
                        out["snr_db"][j] = s
                        out["snr_ok"][j] = bool(s >= _thr(fmt_codec))
                    t = transcripts[j]
                    out["transcript_match"][j] = (
                        t is not None and t == expected_transcript(i))
            if adpcm_pending:
                _fill_adpcm_snr(adpcm_pending, out, _thr("adpcm_ima"))
            yield pd.DataFrame(out)

    return run


def decode_check(df: DataFrame, check_reference: bool = True,
                 snr_threshold=30.0, dur_tolerance_ms: int = 2,
                 salt: bool = True,
                 passthrough: Optional[Sequence[str]] = None) -> DataFrame:
    """Decode every clip and verify the declared metadata against the
    decoded payload; with ``check_reference`` also re-synthesize the
    deterministic reference signal and assert SNR>=threshold + transcript
    equality (the input_hint per-row invariant).

    ``snr_threshold`` is a scalar dB gate or a per-codec mapping
    (``{"adpcm_ima": 26.0, "default": 30.0}`` — see
    :func:`threshold_for`): lossy codecs have different honest SNR
    floors, and the gate is resolved against the CONTAINER's codec (what
    actually decoded), not the declared column, so a mislabeled clip is
    judged by the physics of what its bytes are.

    Returns one row per clip (DECODE_RESULT_SCHEMA). Columns are pruned to
    exactly what the decode needs before the Arrow exchange, so parquet
    scan pruning still applies (SURVEY.md §4.2)."""
    validate_gates(snr_threshold)
    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec"]
    if check_reference:
        # only the reference check reads transcripts — a metadata-only
        # table without the column must still be decodable
        cols.append("transcript")
    # passthrough columns the decode already consumes (codec, sr_hz, …)
    # must not be SELECTED twice — pdf['codec'] over a duplicate column
    # returns a 2-column frame and the output schema gains a duplicate
    # field, failing mid-job in the Arrow exchange — but they still pass
    # through to the output by name; clip_id is already in the result
    # schema, so passing it through is a no-op, not a duplicate
    extra = [c for c in dict.fromkeys(passthrough or [])
             if c in df.columns and c != "clip_id"]
    slim = df.select(*cols, *[c for c in extra if c not in cols])
    if salt:
        slim = salted_repartition(slim)
    schema = DECODE_RESULT_SCHEMA
    for c in extra:
        schema += f", {c} {df.schema[c].dataType.simpleString()}"
    return slim.mapInPandas(
        _decode_batches(check_reference, snr_threshold, dur_tolerance_ms,
                        extra),
        schema)


def decode_violations(results: DataFrame,
                      extra_cols: Optional[Sequence[str]] = None,
                      snr_threshold=30.0) -> DataFrame:
    """Reshape decode-check results into the engine's standard violation
    rows (one per failed assertion, jio error shape). ``snr_threshold``
    must match the decode run's (scalar or the same per-codec mapping) —
    it only shapes the violation's ``expected`` text, which must not
    claim '>= 30dB' when a 40 dB threshold is what actually failed the
    row. With a mapping, the per-row text resolves through the frame's
    ``codec`` column when present (exact whenever codec_match held —
    declared == container there; a codec-mismatched row falls back to
    generic text rather than claim the wrong codec's bound)."""
    # per-check `actual` (the engine's Go-%v "actual is the value"
    # contract, same as referential.py's fmt_col):
    # * decode — the parser's error string IS the decode failure detail.
    # * snr — the MEASURED snr_db when one exists (NaN = never measured:
    #   the reference itself was unlocatable, e.g. unparseable clip_id —
    #   then the error string carries why). A blanket
    #   coalesce(error, static) here misattributed parse/clip_id errors
    #   to every co-failing check and never surfaced the measured dB.
    # * transcript — the error string when the reference was
    #   unlocatable, else the static mismatch text (the transcript value
    #   itself is not in the results frame — decode_check prunes it
    #   before the Arrow exchange).
    # * codec/sr/dur — static text: `error` is never about these (it is
    #   set only on parse failure, which un-asserts them, or on
    #   reference-lookup failure, which is snr/transcript's).
    if isinstance(snr_threshold, Mapping):
        generic = ">= per-codec dB threshold vs reference"
        if "codec" in results.columns:
            default = threshold_for(snr_threshold, "default")
            chain = F.lit(f">= {default:g}dB vs reference")
            for c in sorted(k for k in snr_threshold if k != "default"):
                chain = F.when(
                    F.col("codec") == c,
                    F.lit(f">= {threshold_for(snr_threshold, c):g}dB "
                          f"vs reference")).otherwise(chain)
            snr_expected = F.when(~F.col("codec_match"),
                                  F.lit(generic)).otherwise(chain)
        else:
            snr_expected = F.lit(generic)
    else:
        snr_expected = F.lit(f">= {float(snr_threshold):g}dB vs reference")
    snr_actual = F.when(
        ~F.isnan(F.col("snr_db")),
        F.format_string("%.2fdB", F.col("snr_db")))
    checks = [
        ("decode_ok", "bytes", "decode", "decodable payload",
         "payload failed to decode",
         F.coalesce(F.col("error"), F.lit("payload failed to decode"))),
        ("codec_match", "codec", "codec_consistency",
         "container format == codec", "declared codec != container format",
         F.lit("declared codec != container format")),
        ("sr_match", "sr_hz", "sr_consistency", "declared == decoded",
         "declared sr_hz != decoded sample rate",
         F.lit("declared sr_hz != decoded sample rate")),
        ("dur_match", "dur_ms", "dur_consistency", "declared ~= decoded",
         "declared dur_ms != decoded duration",
         F.lit("declared dur_ms != decoded duration")),
        ("snr_ok", "bytes", "snr",
         snr_expected,
         "decoded PCM SNR below threshold vs reference",
         F.coalesce(snr_actual, F.col("error"),
                    F.lit("decoded PCM SNR below threshold vs reference"))),
        ("transcript_match", "transcript", "transcript_equality",
         "== reference transcript", "transcript != reference",
         F.coalesce(F.col("error"), F.lit("transcript != reference"))),
    ]
    structs = [
        F.when(~F.col(flag), F.struct(
            F.lit(path).alias("rule_path"),
            F.lit(name).alias("rule_name"),
            (expected if isinstance(expected, Column)
             else F.lit(expected)).alias("expected"),
            actual.alias("actual"),
            F.concat(F.lit(f"field `{path}` "), F.lit(msg),
                     F.lit(" (clip "),
                     F.coalesce(F.col("clip_id"), F.lit("<null>")),
                     F.lit(")"))
             .alias("message"))).otherwise(F.lit(None))
        for flag, path, name, expected, msg, actual in checks]
    arr = F.array_compact(F.array(*structs))
    extra = list(extra_cols or [])
    return (results
            .withColumn("_v", F.explode(arr))
            .select("clip_id", "_v.rule_path", "_v.rule_name",
                    "_v.expected", "_v.actual", "_v.message", *extra))
