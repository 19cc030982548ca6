"""Seeded benchmark inputs and the counts a correct run must report.

Every table is a pure function of (workload, seed, size, generator
source): the seed picks a block of row indices, and each row derives from
its index alone (the synth generators hash the index), so the same seed
gives the same bytes and the 12-digit ``clip_id`` -> reference lookup the
decode check relies on keeps holding.

Tables are cached under the checkout's ``.perfbench/cache`` keyed by
everything that shapes them, so a repeated seed skips generation; the
cache is trimmed to the newest few tables.

The expected counts are derived here from the generator's own anomaly
draws (which row got a duplicate id, a truncated payload, a wrong
declared rate, ...), not from the engine, so a run whose violation or
duplicate counts disagree is a wrong answer, not a noisy one.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

import numpy as np

#: rows per seed block: seed s validates indices [b*STRIDE, b*STRIDE+n)
#: of block b = s mod SEED_BLOCKS; the stride exceeds every workload
#: size, and the 12-digit id field holds every block
SEED_STRIDE = 1_000_000
SEED_BLOCKS = 1_000_000
#: newest tables kept in the cache (one per workload and seed)
CACHE_KEEP = 6

CLIP_COLUMNS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                "transcript"]
META_COLUMNS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]


@dataclass(frozen=True)
class TableSpec:
    """How one workload's input table is built."""

    kind: str            # "clips" (FIXTURES §1) or "meta" (§1 minus bytes)
    rows: int
    buckets: int         # bucket_id partitions (hive directories)
    row_groups: int      # parquet row groups per bucket file


@dataclass
class Table:
    root: str
    gen_s: float                 # 0.0 when served from the cache
    expected: Dict[str, int]     # rows, violations, uniqueness_violations


def seed_offset(seed: int) -> int:
    """First row index of the seed's block; any integer is a seed."""
    return (seed % SEED_BLOCKS) * SEED_STRIDE


# -- declared fields and expected counts, from the generator's draws --------

@dataclass(frozen=True)
class DeclaredRow:
    """The metadata columns §1 row ``i`` declares, and the anomaly draws
    behind them, as synth.make_row makes them (payload left out)."""

    clip_id: str
    sr_hz: int                   # declared rate
    dur_ms: int                  # declared duration
    codec: str
    transcript: Optional[str]
    freq: float                  # tone frequency of the payload
    true_sr: int                 # rate the payload is encoded at
    truncated: bool              # payload cut to a third
    sr_bad: bool                 # declared rate is not the true one
    dur_bad: bool                # declared duration is 500 ms long


def declared_row(i: int) -> DeclaredRow:
    """§1 row ``i``'s declared fields: synth._row_params plus the salted
    draws make_row applies to the declared columns."""
    from jio_spark.audio.synth import (_SR_CHOICES, _SR_CUM, _VOCAB, _mix,
                                       _row_params, _u)
    clip_id, freq, sr, dur, codec, transcript = _row_params(i, clean=False)
    sr_bad = _u(i, 12) < 0.005
    dur_bad = _u(i, 13) < 0.005
    decl_sr = int(_SR_CHOICES[(int(np.searchsorted(_SR_CUM, _u(i, 1)))
                               + 1) % 4]) if sr_bad else sr
    tu = _u(i, 15)
    if tu < 0.005:
        words = transcript.split(" ")
        words[_mix(i, 16) % len(words)] = _VOCAB[_mix(i, 17) % 64]
        transcript = " ".join(words)
    elif tu < 0.015:
        transcript = ""
    elif tu < 0.020:
        transcript = None
    return DeclaredRow(clip_id, decl_sr, dur + 500 if dur_bad else dur,
                       codec, transcript, freq, sr, _u(i, 11) < 0.005,
                       sr_bad, dur_bad)


def rule_violations(d: DeclaredRow) -> int:
    """Rule violations of a declared row: an empty transcript fails
    ``min``, a declared duration past 30000 ms fails ``max``, an unknown
    codec fails the referential lookup."""
    return int((d.transcript == "") + (d.dur_ms > 30000)
               + (d.codec == "opus"))


def clip_row_defects(i: int) -> Tuple[str, int, int]:
    """(clip_id, rule violations, decode violations) of §1 row ``i``.

    A truncated payload is one ``decode`` violation and un-asserts every
    payload-derived check. Otherwise an unknown codec mismatches its
    container, a wrong declared rate or duration fails its consistency
    check, a transcript unequal to the reference's fails, and a row
    carrying another row's id is compared against that row's reference
    tone: ``snr`` fails unless the two tones have the same frequency per
    sample (495 Hz at 8 kHz and 990 Hz at 16 kHz give identical
    samples).
    """
    from jio_spark.audio.synth import _row_params, expected_transcript
    d = declared_row(i)
    if d.truncated:
        return d.clip_id, rule_violations(d), 1
    ref = int(d.clip_id.rsplit("_", 1)[1])
    _, ref_freq, ref_sr, _, _, _ = _row_params(ref, clean=True)
    decode = ((d.codec == "opus") + d.sr_bad + d.dur_bad
              + (d.freq * ref_sr != ref_freq * d.true_sr)
              + (d.transcript is None
                 or d.transcript != expected_transcript(ref)))
    return d.clip_id, rule_violations(d), int(decode)


def _expected(ids: Counter, violations: int, n: int) -> Dict[str, int]:
    return {"rows": n, "violations": violations,
            "uniqueness_violations": sum(1 for c in ids.values() if c > 1)}


def clip_expected(start: int, n: int) -> Dict[str, int]:
    """Violation rows and duplicated ids the full audio job must report
    over §1 rows [start, start+n) (see :func:`clip_row_defects`)."""
    ids: Counter = Counter()
    viol = 0
    for i in range(start, start + n):
        clip_id, rules, decode = clip_row_defects(i)
        ids[clip_id] += 1
        viol += rules + decode
    return _expected(ids, viol, n)


# -- writers -------------------------------------------------------------------

def _write_bucket(path: str, columns: Dict[str, list], schema,
                  row_groups: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pa.table(columns, schema=schema)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    per_group = max(1, math.ceil(tbl.num_rows / max(1, row_groups)))
    pq.write_table(tbl, path, row_group_size=per_group)


def _clip_schema():
    import pyarrow as pa
    return pa.schema([("clip_id", pa.string()), ("bytes", pa.binary()),
                      ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
                      ("codec", pa.string()), ("transcript", pa.string())])


def write_clip_bucket(root: str, start: int, n: int, buckets: int,
                      bucket: int, row_groups: int) -> None:
    """Synthesize one bucket's §1 clips and write its parquet file."""
    from jio_spark.audio.synth import make_row
    first = start + (bucket - start) % buckets
    rows = [make_row(i) for i in range(first, start + n, buckets)]
    cols = {c: [r[k] for r in rows] for k, c in enumerate(CLIP_COLUMNS)}
    cols["bytes"] = [bytes(b) for b in cols["bytes"]]
    _write_bucket(os.path.join(root, f"bucket_id={bucket}",
                               "part-00000.parquet"),
                  cols, _clip_schema(), row_groups)


def _write_clips(spec: TableSpec, root: str, start: int, workers: int
                 ) -> None:
    """Write the buckets from ``workers`` child interpreters (this file
    run as a script), each taking every ``workers``-th bucket."""
    # the §1 generators key bucket_id to i % 16: the layout must agree
    if spec.buckets != 16:
        raise ValueError("clip tables use the generator's 16 buckets")
    args = [root, start, spec.rows, spec.buckets, spec.row_groups]
    procs = [subprocess.Popen(
        [sys.executable, os.path.abspath(__file__)]
        + [str(a) for a in args]
        + [str(b) for b in range(w, spec.buckets, workers)])
        for w in range(min(workers, spec.buckets))]
    codes = []
    for p in procs:
        try:
            codes.append(p.wait(timeout=600))
        except subprocess.TimeoutExpired:
            p.kill()
            codes.append(p.wait())
    if any(codes):
        raise RuntimeError(f"clip generator exited with codes {codes}")


def _write_meta(spec: TableSpec, root: str, start: int) -> Dict[str, int]:
    """§1 metadata rows (no payload) at §1 anomaly rates, one file per
    bucket ``i % buckets``; returns the audio-off job's expected
    counts."""
    import pyarrow as pa
    schema = pa.schema([("clip_id", pa.string()), ("sr_hz", pa.int32()),
                        ("dur_ms", pa.int32()), ("codec", pa.string()),
                        ("transcript", pa.string())])
    cols = [{c: [] for c in META_COLUMNS} for _ in range(spec.buckets)]
    ids: Counter = Counter()
    viol = 0
    for i in range(start, start + spec.rows):
        d = declared_row(i)
        for c, col in cols[i % spec.buckets].items():
            col.append(getattr(d, c))
        ids[d.clip_id] += 1
        viol += rule_violations(d)
    for b in range(spec.buckets):
        _write_bucket(os.path.join(root, f"bucket_id={b}",
                                   "part-00000.parquet"),
                      cols[b], schema, spec.row_groups)
    return _expected(ids, viol, spec.rows)


# -- cache -------------------------------------------------------------------

def generator_hash() -> str:
    """Hash of every source that shapes a table: this file and the synth
    generators (and the codecs their encoders live in)."""
    import jio_spark.audio.codecs as codecs
    import jio_spark.audio.synth as synth
    h = hashlib.sha256()
    for path in (__file__, synth.__file__, codecs.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _trim_cache(cache_dir: str, keep: int) -> None:
    entries = []
    for name in os.listdir(cache_dir):
        if not os.path.isdir(os.path.join(cache_dir, name)):
            continue
        marker = os.path.join(cache_dir, name, "_EXPECTED.json")
        if os.path.exists(marker):
            entries.append((os.path.getmtime(marker), name))
        else:
            # a table whose generation never finished
            shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)
    for _, name in sorted(entries)[:-keep]:
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def ensure_table(spec: TableSpec, seed: int, cache_dir: str,
                 workers: int) -> Table:
    """The cached table for (spec, seed), generating it on a miss."""
    start = seed_offset(seed)
    key = (f"{spec.kind}_n{spec.rows}_b{spec.buckets}_g{spec.row_groups}"
           f"_s{seed}_{generator_hash()}")
    root = os.path.join(cache_dir, key)
    marker = os.path.join(root, "_EXPECTED.json")
    if os.path.exists(marker):
        with open(marker) as f:
            expected = json.load(f)
        os.utime(marker)
        return Table(root, 0.0, expected)
    os.makedirs(cache_dir, exist_ok=True)
    _trim_cache(cache_dir, CACHE_KEEP - 1)
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    if spec.kind == "meta":
        expected = _write_meta(spec, root, start)
    else:
        _write_clips(spec, root, start, workers)
        expected = clip_expected(start, spec.rows)
    gen_s = time.perf_counter() - t0
    with open(marker, "w") as f:
        json.dump(expected, f)
    return Table(root, gen_s, expected)


def clean_metadata(seed: int, n: int) -> Tuple[List[int], List[int]]:
    """(sr_hz, dur_ms) of the seed block generated without anomalies —
    the population the drift baseline snapshot describes (FIXTURES §3)."""
    from jio_spark.audio.synth import _row_params
    start = seed_offset(seed)
    srs, durs = [], []
    for i in range(start, start + n):
        _, _, sr, dur, _, _ = _row_params(i, clean=True)
        srs.append(sr)
        durs.append(dur)
    return srs, durs


if __name__ == "__main__":
    # run as a script: import jio_spark from the checkout this file is in
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    root, start, n, buckets, row_groups, *todo = sys.argv[1:]
    for b in todo:
        write_clip_bucket(root, int(start), int(n), int(buckets), int(b),
                          int(row_groups))
