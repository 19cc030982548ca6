"""Benchmark harness (driver contract): runs the headline full-rule-set
validation pass over the synthetic clips table plus a selection of the
driver-table queries, printing ONE JSON line.

Env:
  SPARK_GRAFT_SF_DIR  input tables dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  JIO_BENCH_CLIPS     clips-table rows (default 100000 — the FIXTURES.md
                      "SF=0.1" stand-in)

The headline metric follows BASELINE.json: validated clips/sec for the
full rule-set pass (schema rules + referential + audio decode w/ SNR +
transcript conformance + uniqueness + drift) at SF=0.1 scale. Clips
generation is cached to parquet and excluded from timing. Query timings
force full computation through the noop sink (a bare count() would let
Catalyst prune the computed columns).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_CLIPS = int(os.environ.get("JIO_BENCH_CLIPS", "100000"))
# cache keys carry the partition counts (not just N): the layout is part
# of what the bench measures (CPUS*2 write partitions, CPUS*4 range
# files), so a run at a different SPARK_GRAFT_CPUS must not silently
# reuse a stale physical layout behind the _SUCCESS marker — and the
# generator source hash, so an edit to audio/synth.py (duplicate rate,
# SNR distribution, ...) regenerates instead of benchmarking last
# round's corpus
CLIPS_PARTS = max(CPUS * 2, 16)
#: mixed-codec arm size: half the headline table — big enough that the
#: ADPCM recurrence cost dominates its subset timing, small enough to
#: keep the whole arm under ~20% of total bench wall
MIXED_CLIPS = max(N_CLIPS // 2, 1000)


def wait_for_idle(threshold: float = 1.0, max_wait_sec: float = 600.0,
                  poll_sec: float = 15.0):
    """Contention gate (r4 VERDICT task 2): BENCH_r04.json recorded a
    1.44x paper regression that was pure host contention (load1 5.1 at
    start; the idle re-run measured no regression). Refuse to start
    while load1 >= threshold, retrying up to max_wait_sec; if the host
    never settles, proceed anyway but the output's load_gate block says
    so — a reader can then discount the numbers instead of mistaking
    them for a code regression. JIO_BENCH_LOAD_GATE=0 skips (e.g. when
    the bench itself is being profiled under deliberate load)."""
    if os.environ.get("JIO_BENCH_LOAD_GATE", "1") != "1":
        return {"enabled": False, "passed": True, "waited_sec": 0.0}
    t0 = time.time()
    while True:
        l1 = os.getloadavg()[0]
        if l1 < threshold:
            return {"enabled": True, "passed": True,
                    "waited_sec": round(time.time() - t0, 1)}
        if time.time() - t0 >= max_wait_sec:
            return {"enabled": True, "passed": False,
                    "waited_sec": round(time.time() - t0, 1),
                    "load1_at_giveup": round(l1, 2)}
        time.sleep(poll_sec)


def _synth_version() -> str:
    import hashlib
    src = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "jio_spark", "audio", "synth.py")
    with open(src, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:8]


SYNTH_VER = _synth_version()
CLIPS_CACHE = (f"/tmp/jio_spark_bench/"
               f"clips_{N_CLIPS}_p{CLIPS_PARTS}_v{SYNTH_VER}")

BENCH_QUERIES = [
    "rule_number_range", "rule_when_cross_field", "violations_shape",
    "uniqueness", "uniqueness_clustered", "topk_window", "text_quality",
    "dedup_minhash_lsh", "dedup_minhash_capped", "ann_bruteforce",
]
# dedup_ngram_jaccard stays correctness-only: the exact inverted-index
# join degenerates on the synthetic corpus's high-frequency 2-gram
# shingles (sum f^2 blowup); MinHash+LSH is the benched scale path.


def build_spark() -> SparkSession:
    return (SparkSession.builder
            .master(f"local[{CPUS}]")
            .appName("jio_spark-bench")
            .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
            .config("spark.default.parallelism", str(CPUS))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory",
                    os.environ.get("JIO_BENCH_DRIVER_MEM", "16g"))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .getOrCreate())


CLIPS_CLUSTERED = (
    f"/tmp/jio_spark_bench/"
    f"clips_clustered_{N_CLIPS}_r{CPUS * 4}_v{SYNTH_VER}")


def ensure_clips(spark: SparkSession):
    from jio_spark.audio.synth import write_clips
    marker = os.path.join(CLIPS_CACHE, "_SUCCESS")
    if not os.path.exists(marker):
        write_clips(spark, N_CLIPS, CLIPS_CACHE, partitions=CLIPS_PARTS)
    return spark.read.parquet(CLIPS_CACHE)


def ensure_clustered_clips(spark: SparkSession):
    """The same table in the INTENDED 10^12-row layout: globally
    range-partitioned + sorted by clip_id (an Iceberg sort-ordered
    table; duplicate ids land in one file by construction). bucket_id
    stays as a data column — the layout is keyed by clip_id, not hive
    dirs."""
    marker = os.path.join(CLIPS_CLUSTERED, "_SUCCESS")
    if not os.path.exists(marker):
        # CPUS*4 range files ≈ the split granularity of the bucketed
        # layout: payload-local decode parallelism = row-group count, and
        # 32 big files gave only 64 splits with a straggler tail
        (spark.read.parquet(CLIPS_CACHE)
         .repartitionByRange(CPUS * 4, "clip_id")
         .sortWithinPartitions("clip_id")
         .write.mode("overwrite").parquet(CLIPS_CLUSTERED))
    return spark.read.parquet(CLIPS_CLUSTERED)


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


MIXED_CACHE = (f"/tmp/jio_spark_bench/"
               f"clips_mixed_{MIXED_CLIPS}_p{CLIPS_PARTS}_v{SYNTH_VER}")


def ensure_mixed_clips(spark: SparkSession):
    from jio_spark.audio.synth import mixed_clips_frame
    marker = os.path.join(MIXED_CACHE, "_SUCCESS")
    if not os.path.exists(marker):
        (mixed_clips_frame(spark, MIXED_CLIPS, partitions=CLIPS_PARTS)
         .write.mode("overwrite").partitionBy("bucket_id")
         .parquet(MIXED_CACHE))
    return spark.read.parquet(MIXED_CACHE)


def bench_mixed_codecs(spark: SparkSession, repeats: int, warm: bool):
    """Mixed-codec decode arm (r4 VERDICT task 3): the headline corpus is
    pinned to pcm/ulaw/alaw, so the round-4/5 codecs' end-to-end cost was
    visible only in side logs. This arm runs the FULL decode+SNR+
    transcript check over the §1b extended corpus (ADPCM 20%, all PCM
    widths, float32, 25% stereo, 20% EXTENSIBLE) and over each declared-
    codec subset, so per-codec clips/s is tracked round-over-round in the
    official artifact. Decode runs the DataFrame mapInPandas path —
    per-codec subsets of a cached table can't use the payload-local files
    path (row groups mix codecs), and one consistent path is what makes
    the per-codec numbers comparable."""
    import statistics as _st
    from pyspark.sql import functions as F
    from jio_spark.audio.decode import decode_check
    from jio_spark.audio.synth import MIX_SNR_GATES
    mixed = ensure_mixed_clips(spark)
    counts = {r["codec"]: r["n"]
              for r in mixed.groupBy("codec")
              .agg(F.count(F.lit(1)).alias("n")).collect()}

    def timed(df):
        runs = []
        for _ in range(repeats):
            t0 = time.time()
            run_noop(decode_check(df, check_reference=True,
                                  snr_threshold=MIX_SNR_GATES))
            runs.append(time.time() - t0)
        return _st.median(runs)

    if warm:
        run_noop(decode_check(mixed, check_reference=True,
                              snr_threshold=MIX_SNR_GATES))
    full_sec = timed(mixed)
    per_codec = {}
    for codec in sorted(c for c in counts if c != "opus"):
        sec = timed(mixed.where(F.col("codec") == codec))
        per_codec[codec] = {
            "clips": counts[codec], "sec": round(sec, 3),
            "clips_per_sec": round(counts[codec] / sec, 1)}
    return {"clips": MIXED_CLIPS, "full_sec": round(full_sec, 3),
            "clips_per_sec": round(MIXED_CLIPS / full_sec, 1),
            "per_codec": per_codec}


def main():
    # host load at start/end rides in the output: a shared box under
    # outside contention has produced 2-5x wall swings on identical code
    # (BENCH/BASELINE.md "31 s false alarm"), and the load averages are
    # what lets a reader tell a contended record from a regression
    load_gate = wait_for_idle()
    load_start = [round(x, 2) for x in os.getloadavg()]
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E
    E._ensure_workers(spark)

    clips = ensure_clips(spark)

    from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                                  default_codec_dim)
    # decode_source='files': payload-local decode — workers read the bytes
    # column straight from parquet row groups, bypassing the JVM→Python
    # Arrow copy that otherwise caps decode throughput (~1.3 GB/s/node
    # measured). See jio_spark/audio/files.py and BENCH/BASELINE.md.
    job = ClipsValidationJob(
        spark,
        ClipsJobConfig(group_size=16, drift=True,
                       decode_source="files",
                       group_concurrency=4),
        codec_dim=default_codec_dim(spark))

    warm = os.environ.get("JIO_BENCH_WARMUP", "1") == "1"
    repeats = int(os.environ.get("JIO_BENCH_REPEATS", "3"))
    if repeats < 1:
        raise SystemExit(f"JIO_BENCH_REPEATS must be >= 1, got {repeats}")
    if warm:
        job.run(clips, table_root=CLIPS_CACHE)  # warm cache + workers
    # medians of N: the sandbox host shows 10-50% run-to-run variance
    # under contention, so single-shot numbers aren't comparable
    # round-over-round (BENCH/BASELINE.md protocol)
    full_runs = []
    metrics = None
    for _ in range(repeats):
        t0 = time.time()
        metrics = job.run(clips, table_root=CLIPS_CACHE)
        full_runs.append(time.time() - t0)
    full_pass_sec = statistics.median(full_runs)
    clips_per_sec = N_CLIPS / full_pass_sec

    # -- the north-star clustered layout -----------------------------------
    # same full job over the clip_id-sorted table with the shuffle-free
    # boundary-exchange uniqueness; violation counts must match the
    # any-layout run exactly (same data, different physical layout)
    clustered = ensure_clustered_clips(spark)
    cjob = ClipsValidationJob(
        spark,
        ClipsJobConfig(group_size=16, drift=True,
                       decode_source="files",
                       group_concurrency=4,
                       uniqueness_layout="clustered",
                       # the clustered table is range-WRITTEN: every
                       # duplicated clip_id's copies colocate in one file,
                       # so the boundary-exchange result is exact under
                       # any read split packing even though packed-read
                       # partition ranges overlap (the certificate can't
                       # see colocation — declare it)
                       uniqueness_on_unclustered="trust"),
        codec_dim=default_codec_dim(spark))
    if warm:
        cjob.run(clustered, table_root=CLIPS_CLUSTERED)
    cl_runs, cmetrics = [], None
    for _ in range(repeats):
        t0 = time.time()
        cmetrics = cjob.run(clustered, table_root=CLIPS_CLUSTERED)
        cl_runs.append(time.time() - t0)
    # explicit raises (not assert): the cross-layout exactness gate must
    # survive `python -O`
    if cmetrics["violations"] != metrics["violations"]:
        raise RuntimeError(
            "clustered-layout violation count diverged: "
            f"{cmetrics['violations']} != {metrics['violations']}")
    if (cmetrics["uniqueness_violations"]
            != metrics["uniqueness_violations"]):
        raise RuntimeError(
            "clustered-layout uniqueness count diverged: "
            f"{cmetrics['uniqueness_violations']} != "
            f"{metrics['uniqueness_violations']}")

    # isolated uniqueness-step timing, any-layout groupBy vs clustered
    # boundary exchange (medians; forced through count())
    from jio_spark.operators.uniqueness import uniqueness_check
    ua, uc = [], []
    for _ in range(repeats):
        t0 = time.time()
        n_any = uniqueness_check(clips, "clip_id", layout="any").count()
        ua.append(time.time() - t0)
        t0 = time.time()
        n_cl = uniqueness_check(clustered, "clip_id",
                                layout="clustered",
                                on_unclustered="trust").count()
        uc.append(time.time() - t0)
    if n_any != n_cl:
        raise RuntimeError(
            f"uniqueness step count diverged across layouts: "
            f"any={n_any} clustered={n_cl}")

    mixed_codec = bench_mixed_codecs(spark, repeats, warm)

    queries = {}
    qmap = E.queries()
    for name in BENCH_QUERIES:
        runs = []
        for _ in range(repeats):
            t = time.time()
            run_noop(qmap[name](spark, SF_DIR))
            runs.append(time.time() - t)
        queries[name] = round(statistics.median(runs), 3)

    out = {
        # metric/value/unit agree: the VALUE is the full-pass wall
        # median in seconds; the throughput rides in clips_per_sec
        # (a consumer pairing metric with value must not read seconds
        # where the name promises a rate)
        "metric": "full rule-set validation pass wall (median of runs)",
        "value": round(full_pass_sec, 3),
        "unit": "sec",
        "clips": N_CLIPS,
        "clips_per_sec": round(clips_per_sec, 1),
        "cpus": CPUS,
        "full_runs": [round(x, 3) for x in full_runs],
        "full_clustered_sec": round(statistics.median(cl_runs), 3),
        "full_clustered_runs": [round(x, 3) for x in cl_runs],
        "uniqueness_any_sec": round(statistics.median(ua), 3),
        "uniqueness_clustered_sec": round(statistics.median(uc), 3),
        "violations": metrics["violations"],
        "uniqueness_violations": metrics["uniqueness_violations"],
        "mixed_codec": mixed_codec,
        "queries": queries,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "load_gate": load_gate,
        "load_avg_start": load_start,
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
