"""Full-job runner + checkpoint/resume (SURVEY.md §7 milestone 9)."""

import os

import pyspark.sql.functions as F
import pytest

from jio_spark.audio.synth import clips_frame, write_clips
from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                              default_codec_dim)
from jio_spark.operators.drift import HistSpec, snapshot
from jio_spark.sinks.writers import Manifest


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("clips") / "clips.parquet")
    write_clips(spark, 1200, p, partitions=4)
    return p


def test_full_job_metrics(spark, clips_path, tmp_path):
    df = spark.read.parquet(clips_path)
    baseline = snapshot(clips_frame(spark, 1200, clean=True, partitions=4),
                        {"dur_ms": HistSpec(200.0, 30000.0, 32),
                         "sr_hz": HistSpec(0.0, 48000.0, 48)})
    job = ClipsValidationJob(spark,
                             ClipsJobConfig(group_size=16,
                                            observe_rule_counts=True),
                             codec_dim=default_codec_dim(spark),
                             baseline_snapshot=baseline)
    m = job.run(df)
    assert m["rows"] == 1200
    assert m["violations"] > 0            # injected anomalies
    assert m["uniqueness_violations"] >= 0
    # clean-vs-dirty drift at this scale stays under thresholds
    assert all(d["pass"] for d in m["drift"])
    # per-step walls: every step > 0, and the group phase is bounded by
    # the run wall (steps may overlap, so their SUM may exceed it)
    ph = m["phase_sec"]
    assert set(ph) == {"groups_max", "groups_sum", "uniqueness", "drift"}
    assert 0 < ph["groups_max"] <= ph["groups_sum"]
    assert ph["groups_max"] <= m["wall_sec"]
    assert ph["uniqueness"] > 0 and ph["drift"] > 0
    # per-rule tallies ride the same observe: every rule has
    # evaluated >= passed, nothing evaluated beyond the row count, the
    # injected anomalies fail at least one rule, and the summed failed
    # equals the rule-chain share of the violation rows (total minus
    # referential + decode streams, which keep their own accounting)
    rc = m["rule_counts"]
    assert rc and all(0 <= r["passed"] <= r["evaluated"] <= m["rows"]
                      and r["failed"] == r["evaluated"] - r["passed"]
                      for r in rc)
    assert sum(r["failed"] for r in rc) > 0
    assert sum(r["failed"] for r in rc) <= m["violations"]


def test_resume_skips_completed_groups(spark, clips_path, tmp_path):
    df = spark.read.parquet(clips_path)
    out = str(tmp_path / "out")
    cfg = ClipsJobConfig(group_size=4, audio_check=False, drift=False)
    job = ClipsValidationJob(spark, cfg)

    # simulate a crash: run only the first group by marking the rest done,
    # then un-mark them and resume
    m1 = job.run(df, output_root=out)
    manifest = Manifest(out)
    done1 = manifest.completed_partitions()
    assert done1 == set(range(16))
    assert m1["groups_run"] == 4

    # wipe two group records → resume must re-run exactly those
    group_files = sorted(n for n in os.listdir(manifest.dir)
                         if n.startswith("group_"))
    for name in group_files[:2]:
        os.remove(os.path.join(manifest.dir, name))
    m2 = job.run(df, output_root=out, resume=True)
    assert m2["groups_run"] == 2
    assert m2["rows"] < m1["rows"]

    # violations output covers all 16 partitions exactly once
    v = spark.read.parquet(os.path.join(out, "violations"))
    assert v.select("bucket_id").distinct().count() <= 16
    assert v.groupBy("clip_id", "rule_path").count() \
            .where(F.col("count") > 1).count() == 0


def test_resume_noop_when_complete(spark, clips_path, tmp_path):
    df = spark.read.parquet(clips_path)
    out = str(tmp_path / "out2")
    cfg = ClipsJobConfig(group_size=8, audio_check=False, drift=False)
    job = ClipsValidationJob(spark, cfg)
    job.run(df, output_root=out)
    m2 = job.run(df, output_root=out, resume=True)
    assert m2["groups_run"] == 0 and m2["rows"] == 0


def test_resume_refuses_changed_semantics(spark, clips_path, tmp_path):
    """A resumed run must run the SAME validation as the run it resumes:
    the completed groups' outputs were produced under the old config, so
    resuming with different rules or thresholds would silently mix two
    rule versions' violations in one output dir. run.json carries the
    semantic fingerprint; resume checks it before touching anything."""
    import json

    from jio_spark import K

    df = spark.read.parquet(clips_path)
    out = str(tmp_path / "sem")
    cfg = ClipsJobConfig(group_size=4, audio_check=False, drift=False)
    job = ClipsValidationJob(spark, cfg)
    job.run(df, output_root=out)
    manifest = Manifest(out)
    group_files = sorted(n for n in os.listdir(manifest.dir)
                         if n.startswith("group_"))
    os.remove(os.path.join(manifest.dir, group_files[0]))

    # changed ruleset → refused, nothing rewritten
    cfg2 = ClipsJobConfig(
        group_size=4, audio_check=False, drift=False,
        rules=K.object({"sr_hz": K.number().required().min(1)}))
    with pytest.raises(ValueError, match="ruleset"):
        ClipsValidationJob(spark, cfg2).run(df, output_root=out,
                                            resume=True)

    # changed audio semantics → refused (config-level fingerprint:
    # deliberately strict even when audio_check is off)
    cfg3 = ClipsJobConfig(group_size=4, audio_check=False, drift=False,
                          snr_threshold=25.0)
    with pytest.raises(ValueError, match="snr_threshold"):
        ClipsValidationJob(spark, cfg3).run(df, output_root=out,
                                            resume=True)

    # changed uniqueness semantics → refused (the _global_uniqueness
    # step is resume-skipped via the manifest, so its knobs are part of
    # the fingerprint)
    cfg4 = ClipsJobConfig(group_size=4, audio_check=False, drift=False,
                          uniqueness_layout="clustered",
                          uniqueness_on_unclustered="trust")
    with pytest.raises(ValueError, match="uniqueness_layout"):
        ClipsValidationJob(spark, cfg4).run(df, output_root=out,
                                            resume=True)

    # identical config → resumes the one open group and records lineage
    m = job.run(df, output_root=out, resume=True)
    assert m["groups_run"] == 1
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    assert run.get("resumed_from")


def test_fresh_run_clears_stale_manifest(spark, clips_path, tmp_path,
                                         monkeypatch):
    """A FRESH (resume=False) run into an existing output root must
    invalidate the previous run's completion records: if the fresh run
    crashes partway, a later resume may trust records written by THIS
    run only — stale ones describe outputs the fresh run never rewrote
    (under possibly different semantics; the fingerprint check compares
    against the fresh run.json, so only clearing closes the hole)."""
    from jio_spark.runner import ClipsValidationJob as Job

    df = spark.read.parquet(clips_path)
    out = str(tmp_path / "stale")
    cfg = ClipsJobConfig(group_size=4, audio_check=False, drift=False)
    job = ClipsValidationJob(spark, cfg)
    job.run(df, output_root=out)                   # run 1 completes
    assert len(Manifest(out).completed_partitions()) == 16

    # run 2 (fresh) crashes after its first group
    calls = {"n": 0}
    orig = Job.group_violations

    def boom(self, *a, **k):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash")
        return orig(self, *a, **k)

    monkeypatch.setattr(Job, "group_violations", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        job.run(df, output_root=out)
    monkeypatch.setattr(Job, "group_violations", orig)

    # only run 2's finished work is trusted — run 1's 16 are GONE
    done = Manifest(out).completed_partitions()
    assert 0 < len(done) <= 4
    # resume finishes exactly the remaining groups
    m = job.run(df, output_root=out, resume=True)
    assert m["groups_run"] == (16 - len(done)) // 4
    assert len(Manifest(out).completed_partitions()) == 16


def test_partition_discovery_is_metadata_only(spark, clips_path):
    """list_partition_values reads the hive directory names — no Spark
    job, values parsed back to the column's int domain — and the runner
    prefers it whenever table_root is known."""
    from jio_spark.sources.tables import TableAdapter, list_partition_values
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    vals = list_partition_values(spark, clips_path, "bucket_id")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert vals == sorted(set(vals)) and vals and all(
        isinstance(v, int) for v in vals)
    assert after == before          # zero Spark jobs launched
    assert TableAdapter().partitions(spark, clips_path) == vals
    # unpartitioned location → empty (callers fall back to a scan)
    assert list_partition_values(spark, "/nonexistent/nowhere",
                                 "bucket_id") == []

    df = spark.read.parquet(clips_path)
    cfg = ClipsJobConfig(group_size=8, audio_check=False, drift=False)
    m = ClipsValidationJob(spark, cfg).run(df, table_root=clips_path)
    assert m["partitions"] == len(vals)


def test_uniqueness_step_counts_from_its_write(spark, clips_path, tmp_path,
                                               monkeypatch):
    """With a sink, the uniqueness step takes its violation count from
    the write itself: the step runs exactly the Spark jobs of one write
    of its frame, not a second whole-table groupBy for a count()."""
    import jio_spark.runner as runner
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return set(tracker.getJobIdsForGroup(None) or [])

    seen = {}
    orig_check, orig_mark = runner.uniqueness_check, Manifest.mark

    def check(*a, **k):
        seen["call"], seen["start"] = (a, k), jobs()
        return orig_check(*a, **k)

    def mark(self, key, *a, **k):
        if key == "_global_uniqueness":
            seen["end"] = jobs()
        return orig_mark(self, key, *a, **k)

    monkeypatch.setattr(runner, "uniqueness_check", check)
    monkeypatch.setattr(Manifest, "mark", mark)
    out = str(tmp_path / "out")
    cfg = ClipsJobConfig(group_size=16, audio_check=False, drift=False)
    m = ClipsValidationJob(spark, cfg).run(spark.read.parquet(clips_path),
                                           output_root=out)
    step_jobs = len(seen["end"] - seen["start"])

    a, k = seen["call"]
    before = jobs()
    orig_check(*a, **dict(k, certificate={})).write.parquet(
        str(tmp_path / "alone"))
    assert step_jobs == len(jobs() - before)
    written = spark.read.parquet(
        os.path.join(out, "uniqueness_violations")).count()
    assert m["uniqueness_violations"] == written > 0


def test_merge_observed_stats_math():
    from jio_spark.runner import _merge_observed_stats
    g1 = {"rows": 10, "v__nulls": 2, "v__min": 1.0, "v__max": 5.0,
          "v__mean": 3.0, "v__distinct": 4}
    g2 = {"rows": 30, "v__nulls": 0, "v__min": 0.0, "v__max": 9.0,
          "v__mean": 6.0, "v__distinct": 7}
    m = _merge_observed_stats([g1, g2], ["v"])
    assert m["rows"] == 40
    assert m["v"]["nulls"] == 2
    assert m["v"]["min"] == 0.0 and m["v"]["max"] == 9.0
    # weighted by non-null counts: (3*8 + 6*30) / 38
    assert abs(m["v"]["mean"] - (3.0 * 8 + 6.0 * 30) / 38) < 1e-12
    assert m["v"]["distinct_lower_bound"] == 7


def test_partition_values_unescape_hive_encoding(spark, tmp_path):
    """Hive/Spark percent-encode special chars in partition dir names
    (escapePathName: space, ':', '%', …). Listing must return the REAL
    values or the manifest's isin() pruning filter silently skips those
    partitions."""
    from jio_spark.sources.tables import (_unescape_hive,
                                          list_partition_values)
    assert _unescape_hive("a%3Ab") == "a:b"
    assert _unescape_hive("sp%20ace") == "sp ace"
    assert _unescape_hive("100%25") == "100%"
    assert _unescape_hive("plain") == "plain"
    assert _unescape_hive("bad%zz") == "bad%zz"   # not an escape: verbatim
    path = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "sp ace"), (3, "plain")], "id int, part string")
    df.write.partitionBy("part").parquet(path)
    vals = list_partition_values(spark, path, "part")
    assert vals == ["a:b", "plain", "sp ace"]
    # and the listed values actually prune rows (the failure mode was
    # zero-row groups marked complete)
    got = spark.read.parquet(path).where(F.col("part").isin(vals)).count()
    assert got == 3


def test_nonhive_layout_runs_one_group(spark, clips_path, tmp_path):
    """A sort-ordered (non-hive) table layout must run as ONE full-table
    group: decode_check_files cannot dir-prune it, so per-bucket groups
    would each decode the whole table and multiply-count decode
    violations. Violation totals must match the hive-layout run."""
    hive_df = spark.read.parquet(clips_path)
    flat = str(tmp_path / "flat")
    (hive_df.repartitionByRange(4, "clip_id")
     .sortWithinPartitions("clip_id")
     .write.parquet(flat))                  # bucket_id is a DATA column
    cfg = dict(group_size=4, decode_source="files",
               uniqueness_layout="clustered",
               uniqueness_on_unclustered="fallback")
    ref = ClipsValidationJob(
        spark, ClipsJobConfig(group_size=4, decode_source="files"),
        codec_dim=default_codec_dim(spark)) \
        .run(hive_df, table_root=clips_path)
    job = ClipsValidationJob(spark, ClipsJobConfig(**cfg),
                             codec_dim=default_codec_dim(spark))
    m = job.run(spark.read.parquet(flat), table_root=flat)
    assert m["groups_run"] == 1             # not 16/group_size groups
    assert m["rows"] == ref["rows"] == 1200
    assert m["violations"] == ref["violations"]
    # the exactness certificate rides the run metrics; under 'fallback'
    # an uncertified read order reruns via groupBy (always exact either
    # way — the count equality below is the proof)
    cert = m["uniqueness_certificate"]
    assert cert["fallback_used"] == (not cert["clustered_certified"])
    assert m["uniqueness_violations"] == ref["uniqueness_violations"]


def test_ppm_degenerate_and_null_payloads(spark):
    from jio_spark.multimodal import decode_image, parse_ppm
    import pytest as _pt
    with _pt.raises(ValueError):
        parse_ppm(b"P6\n0 0\n255\n")
    with _pt.raises(ValueError):
        parse_ppm(b"P6\n-5 3\n255\n")
    rows = [(1, None), (2, bytearray(b"P6\n0 0\n255\n"))]
    df = spark.createDataFrame(rows, "id int, payload binary")
    dec = {r["id"]: r for r in decode_image(df, "id", "payload").collect()}
    assert not dec["1"]["ok"] and dec["1"]["error"] == "null payload"
    assert not dec["2"]["ok"] and "degenerate" in dec["2"]["error"]


def test_files_decode_string_partition_escaped(spark, tmp_path):
    """String partition values with hive-escaped characters ('a:b' →
    dir 'bucket_id=a%3Ab'): list_row_group_splits must unescape the dir
    value exactly like list_partition_values does, or the group's wanted
    set never matches and decode_check_files silently decodes ZERO files
    for that partition while the runner marks its group complete
    (r3 ADVICE item 1)."""
    from jio_spark.audio.files import (decode_check_files,
                                       list_row_group_splits)
    base = clips_frame(spark, 120, partitions=2)
    df = base.withColumn(
        "bucket_id",
        F.when(F.col("bucket_id") % 2 == 0, F.lit("a:b"))
         .otherwise(F.lit("plain")))
    path = str(tmp_path / "strpart")
    df.write.partitionBy("bucket_id").parquet(path)

    splits = list_row_group_splits(path, partition_filter=["a:b"])
    assert splits and all(pv == "a:b" for _, _, pv in splits)
    dec = decode_check_files(spark, path, partition_filter=["a:b"],
                             check_reference=False)
    rows = dec.collect()
    n_ab = (spark.read.parquet(path)
            .where(F.col("bucket_id") == "a:b").count())
    assert len(rows) == n_ab > 0
    # the partition value written back into the decode output is the
    # REAL (unescaped) value, matching the violations frame's column
    assert all(r["bucket_id"] == "a:b" for r in rows)


def test_files_decode_null_partition(spark, tmp_path):
    """NULL partition values land under bucket_id=__HIVE_DEFAULT_PARTITION__/;
    the split lister must map that dir back to None so the runner's
    explicit None group member selects it — otherwise the NULL
    partition's clips are silently excluded from the decode check while
    the group is marked complete (r3 ADVICE item 2)."""
    from jio_spark.audio.files import (decode_check_files,
                                       list_row_group_splits)
    base = clips_frame(spark, 300, partitions=2)
    nulled = base.withColumn(
        "bucket_id",
        F.when(F.col("bucket_id") == 3,
               F.lit(None).cast("int")).otherwise(F.col("bucket_id")))
    path = str(tmp_path / "nullpart")
    nulled.write.partitionBy("bucket_id").parquet(path)
    df = spark.read.parquet(path)
    n_null = df.where(F.col("bucket_id").isNull()).count()
    assert n_null > 0

    splits = list_row_group_splits(path, partition_filter=[None])
    assert splits and all(pv is None for _, _, pv in splits)
    dec = decode_check_files(spark, path, partition_filter=[None],
                             check_reference=False)
    rows = dec.collect()
    assert len(rows) == n_null
    assert all(r["bucket_id"] is None for r in rows)

    # end-to-end: the full job with audio_check + files decode over the
    # null-partitioned table matches the Arrow-dataframe decode path
    cfg = ClipsJobConfig(group_size=8, drift=False, audio_check=True,
                         decode_source="files")
    m = ClipsValidationJob(spark, cfg,
                           codec_dim=default_codec_dim(spark)) \
        .run(df, table_root=path)
    ref = ClipsValidationJob(
        spark, ClipsJobConfig(group_size=8, drift=False, audio_check=True,
                              decode_source="dataframe"),
        codec_dim=default_codec_dim(spark)).run(df)
    assert m["rows"] == ref["rows"] == 300
    assert m["violations"] == ref["violations"]


def test_null_partition_values_fallback(spark, tmp_path):
    """A NULL in the partition column (the case the hive listing
    deliberately degrades for): the distinct() fallback must not crash
    sorting mixed None/int, and the NULL-partition rows must be
    validated in their own group, not silently skipped by isin()."""
    base = clips_frame(spark, 300, partitions=2)
    nulled = base.withColumn(
        "bucket_id",
        F.when(F.col("bucket_id") == 3,
               F.lit(None).cast("int")).otherwise(F.col("bucket_id")))
    job = ClipsValidationJob(
        spark, ClipsJobConfig(group_size=8, drift=False,
                              audio_check=False),
        codec_dim=default_codec_dim(spark))
    m = job.run(nulled)
    assert m["rows"] == 300                # NULL-bucket rows included
    ref = ClipsValidationJob(
        spark, ClipsJobConfig(group_size=8, drift=False,
                              audio_check=False),
        codec_dim=default_codec_dim(spark)).run(base)
    assert m["violations"] == ref["violations"]


# ---------------------------------------------------------------------------
# Property: payload-local decode coverage over RANDOM partition layouts.
# The silent-skip failure class (r3 ADVICE #1/#2) is layout-dependent:
# a partition value whose hive dir encoding the split lister mismatches
# makes decode_check_files quietly decode zero files for that partition
# while the runner marks its group complete. The two targeted tests above
# pin 'a:b' and NULL; this fuzz draws hostile layouts — escaped chars,
# unicode, spaces, dots, empty string, NULL, int vs string columns,
# random group sizes — and asserts the contract that kills the whole
# class: unioned over the runner's own partition groups, decode output
# covers the ON-DISK table's clip_ids EXACTLY once, with the written-back
# partition value equal to the read-back column value.
# ---------------------------------------------------------------------------

def test_files_decode_random_partition_layout_fuzz(spark, tmp_path):
    from hypothesis import HealthCheck, given, settings, strategies as st
    from jio_spark.audio.files import decode_check_files
    from jio_spark.runner import _part_filter
    from jio_spark.sources.tables import list_partition_values

    host_alphabet = "ab:%/=. +#~üλ"
    str_vals = st.text(alphabet=host_alphabet, min_size=0, max_size=6)
    layouts = st.one_of(
        st.lists(st.one_of(st.integers(0, 99), st.none()),
                 min_size=2, max_size=4, unique=True),
        st.lists(st.one_of(str_vals, st.none()),
                 min_size=2, max_size=4, unique=True),
    )

    base = clips_frame(spark, 160, partitions=2).drop("bucket_id")
    base = base.localCheckpoint()  # one synth, many layouts

    counter = [0]

    n_examples = int(os.environ.get("JIO_LAYOUT_FUZZ_EXAMPLES", "10"))
    @settings(max_examples=n_examples, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture,
                                     HealthCheck.data_too_large])
    @given(data=st.data())
    def run(data):
        vals = data.draw(layouts)
        group_size = data.draw(st.integers(1, len(vals)))
        is_int = all(v is None or isinstance(v, int) for v in vals)
        dtype = "int" if is_int else "string"
        arr = F.array(*[F.lit(v).cast(dtype) for v in vals])
        df = base.withColumn(
            "bucket_id", F.try_element_at(
                arr, (F.crc32(F.col("clip_id")) % len(vals) + 1
                      ).cast("int")))
        counter[0] += 1
        path = str(tmp_path / f"layout_{counter[0]}")
        df.write.partitionBy("bucket_id").parquet(path)
        disk = spark.read.parquet(path)

        # the runner's own discovery + grouping (incl. its distinct()
        # fallback: the hive listing intentionally degrades when a
        # __HIVE_DEFAULT_PARTITION__ dir exists — runner.py run())
        parts = list_partition_values(spark, path, "bucket_id")
        if not parts:
            raw = [r[0] for r in
                   disk.select("bucket_id").distinct().collect()]
            parts = sorted(v for v in raw if v is not None)
            if any(v is None for v in raw):
                parts = parts + [None]
        assert parts, "no partitions discovered"
        groups = [parts[i:i + group_size]
                  for i in range(0, len(parts), group_size)]

        # multiset compare: clips_frame injects duplicate clip_ids by
        # design, so coverage is over (clip_id, partition value) PAIRS —
        # a pair decoded twice (overlapping groups) or never (silent
        # skip) both break the Counter equality
        from collections import Counter
        got = Counter()
        for group in groups:
            dec = decode_check_files(spark, path, partition_filter=group,
                                     check_reference=False)
            got.update((r["clip_id"], r["bucket_id"])
                       for r in dec.select("clip_id", "bucket_id").collect())
        want = Counter((r["clip_id"], r["bucket_id"])
                       for r in disk.select("clip_id", "bucket_id").collect())
        assert got == want, \
            (f"layout {vals!r} group_size {group_size}: "
             f"missing {list((want - got).keys())[:3]}, "
             f"extra {list((got - want).keys())[:3]}")

    run()


# ---------------------------------------------------------------------------
# Property: crash-resume ends at the SAME outputs as an uninterrupted run,
# for a RANDOM kill point. The targeted tests above delete manifest
# records by hand; this fuzz injects a real crash at the k-th manifest
# mark — either just BEFORE the mark lands (outputs written, group
# unmarked: the half-written-group case the dynamic partition overwrite
# and the global-step full overwrite exist for) or just AFTER (marked:
# resume must skip it) — then resumes and asserts exact output-multiset
# equality. The before-mark kill at the uniqueness step is the case that
# caught the append→duplicate bug fixed alongside this test
# (runner.py run_uniqueness: sink.append → sink.overwrite).
# ---------------------------------------------------------------------------

def test_resume_random_killpoint_fuzz(spark, clips_path, tmp_path):
    from collections import Counter
    from hypothesis import HealthCheck, given, settings, strategies as st

    df = spark.read.parquet(clips_path)

    # expected outputs, computed once from one uninterrupted sinked run
    # (independent of group_size: violations are per (clip, rule))
    ref_out = str(tmp_path / "ref")
    ClipsValidationJob(
        spark, ClipsJobConfig(group_size=16, audio_check=False,
                              drift=False),
        codec_dim=default_codec_dim(spark)).run(df, output_root=ref_out)
    want_viols = Counter(
        tuple(r) for r in spark.read.parquet(
            os.path.join(ref_out, "violations"))
        .select("clip_id", "rule_path", "rule_name", "bucket_id")
        .collect())
    want_uniq = Counter(
        tuple(r) for r in spark.read.parquet(
            os.path.join(ref_out, "uniqueness_violations")).collect())
    assert want_viols and want_uniq     # fixture injects both kinds

    counter = [0]
    n_examples = int(os.environ.get("JIO_KILL_FUZZ_EXAMPLES", "8"))

    @settings(max_examples=n_examples, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture,
                                     HealthCheck.data_too_large])
    @given(data=st.data())
    def run(data):
        group_size = data.draw(st.sampled_from([3, 4, 5, 7, 16]))
        n_groups = -(-16 // group_size)
        # mark calls = n_groups group marks + 1 uniqueness mark
        kill_at = data.draw(st.integers(1, n_groups + 1))
        kill_before = data.draw(st.booleans())

        counter[0] += 1
        out = str(tmp_path / f"kill_{counter[0]}")
        cfg = ClipsJobConfig(group_size=group_size, audio_check=False,
                             drift=False)
        job = ClipsValidationJob(spark, cfg,
                                 codec_dim=default_codec_dim(spark))

        calls = [0]
        orig_mark = Manifest.mark

        def crashing_mark(self, group_key, partitions, metrics=None):
            calls[0] += 1
            if calls[0] == kill_at:
                if kill_before:
                    raise RuntimeError("injected crash before mark")
                orig_mark(self, group_key, partitions, metrics)
                raise RuntimeError("injected crash after mark")
            orig_mark(self, group_key, partitions, metrics)

        Manifest.mark = crashing_mark
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                job.run(df, output_root=out)
        finally:
            Manifest.mark = orig_mark

        # the crashed run marked every group BEFORE the kill point, plus
        # the kill-point step itself iff the crash landed after its mark
        manifest = Manifest(out)
        marked_groups = sum(1 for k in manifest.completed()
                            if k.startswith("group_"))
        survived = kill_at - 1 + (0 if kill_before else 1)
        group_survived = min(survived, n_groups)
        assert marked_groups == group_survived

        m2 = job.run(df, output_root=out, resume=True)
        assert m2["groups_run"] == n_groups - group_survived

        got_viols = Counter(
            tuple(r) for r in spark.read.parquet(
                os.path.join(out, "violations"))
            .select("clip_id", "rule_path", "rule_name", "bucket_id")
            .collect())
        got_uniq = Counter(
            tuple(r) for r in spark.read.parquet(
                os.path.join(out, "uniqueness_violations")).collect())
        assert got_viols == want_viols, \
            (f"group_size={group_size} kill_at={kill_at} "
             f"before={kill_before}: violations diverge — "
             f"missing {list((want_viols - got_viols).keys())[:3]}, "
             f"extra {list((got_viols - want_viols).keys())[:3]}")
        assert got_uniq == want_uniq, \
            (f"group_size={group_size} kill_at={kill_at} "
             f"before={kill_before}: uniqueness rows diverge "
             f"(extra = the append-duplication bug)")
        assert manifest.completed_partitions() == set(range(16))
        assert "_global_uniqueness" in manifest.completed()

    run()


def test_concurrent_groups_match_serial(spark, clips_path, tmp_path):
    """group_concurrency=4 (the bench/prod setting) must be result-
    identical to the serial path WITH a sink attached: same metrics,
    same read-back violation multiset, same manifest groups — guards the
    sink_lock serialization and the per-group Observation threading."""
    df = spark.read.parquet(clips_path)

    def run(conc, out):
        cfg = ClipsJobConfig(group_size=4, uniqueness_layout="any",
                             group_concurrency=conc)
        job = ClipsValidationJob(spark, cfg,
                                 codec_dim=default_codec_dim(spark))
        m = job.run(df, output_root=out, table_root=clips_path)
        viols = sorted(
            (r["clip_id"], r["rule_name"])
            for r in spark.read.parquet(os.path.join(out, "violations"))
            .select("clip_id", "rule_name").collect())
        groups = set(Manifest(out).completed())
        return m, viols, groups

    m1, v1, g1 = run(1, str(tmp_path / "serial"))
    m4, v4, g4 = run(4, str(tmp_path / "conc"))
    assert v1 == v4 and len(v1) > 0
    assert g1 == g4
    assert m1["rows"] == m4["rows"]
    assert m1["uniqueness_violations"] == m4["uniqueness_violations"]
    # the merged sketch outputs are ESTIMATES that wobble run-to-run:
    # HLL's serialized representation shifts the estimate ±1 (observed
    # 1174 vs 1173 on ~1200 distinct transcripts) and KLL compaction is
    # randomized — compare those with tolerance, everything else exactly
    c1, c4 = dict(m1["column_stats"]), dict(m4["column_stats"])
    for c in set(c1) | set(c4):
        if not isinstance(c1[c], dict):
            assert c1[c] == c4[c], c
            continue
        e1, e4 = dict(c1[c]), dict(c4[c])
        d1, d4 = e1.pop("distinct", None), e4.pop("distinct", None)
        q1, q4 = e1.pop("quantiles", None), e4.pop("quantiles", None)
        assert e1 == e4, c
        if d1 is not None or d4 is not None:
            assert abs(d1 - d4) <= max(2, 0.01 * max(d1, d4)), c
        for q in (q1, q4):
            if q is None:
                continue
            vals = list(q.values())
            assert vals == sorted(vals), (c, q)       # monotone
            assert e1["min"] <= vals[0] and vals[-1] <= e1["max"], (c, q)


@pytest.mark.parametrize("rule_counts", [False, True])
def test_run_compiles_the_rules_once(spark, clips_path, monkeypatch,
                                     rule_counts):
    """One compile per run, however many groups: every group and the
    rule_counts metadata share it. Counts every compile the run can
    reach — the runner's own and validate()'s."""
    from jio_spark import engine, runner
    calls = []
    for mod in (runner, engine):
        real = mod.compile_ruleset

        def counting(*args, _real=real, **kw):
            calls.append(args)
            return _real(*args, **kw)
        monkeypatch.setattr(mod, "compile_ruleset", counting)
    df = spark.read.parquet(clips_path)
    cfg = ClipsJobConfig(group_size=8, audio_check=False, drift=False,
                         observe_rule_counts=rule_counts)
    m = ClipsValidationJob(spark, cfg).run(df)
    assert m["groups_run"] == 2 and m["rows"] == 1200
    assert len(calls) == 1
    if rule_counts:
        assert len(m["rule_counts"]) == 19


def test_hll_merged_distinct_across_groups(spark):
    """Cross-group distinct (round 4): the per-group HLL sketches carried
    by the observe metrics union into a TRUE whole-table estimate —
    identical to sketching the table in one pass (HLL registers merge
    exactly) and close to the exact count — where the pre-sketch merge
    could only report max-of-groups as a lower bound."""
    import pyspark.sql.functions as F
    from jio_spark.operators.stats import stats_exprs
    from jio_spark.runner import _merge_observed_stats

    df = (spark.range(6000)
          .select((F.col("id") % 16).alias("g"),
                  (F.col("id") % 700).cast("int").alias("k"),
                  (F.col("id") % 41).cast("string").alias("s")))
    group_stats = []
    for lo in range(0, 16, 4):  # 4 groups of 4 partitions each
        sub = df.where((F.col("g") >= lo) & (F.col("g") < lo + 4))
        row = sub.agg(*stats_exprs(sub, ["k", "s"], quantiles=None,
                                   hll_sketch=True)).collect()[0]
        group_stats.append(row.asDict())

    merged = _merge_observed_stats(group_stats, ["k", "s"], spark=spark)
    whole = df.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("k").cast("bigint"))).alias("k"),
        F.hll_sketch_estimate(F.hll_sketch_agg("s")).alias("s")
    ).collect()[0]
    assert merged["k"]["distinct"] == int(whole["k"])
    assert merged["s"]["distinct"] == int(whole["s"])
    # and near-exact at this cardinality (HLL lgK=12 rsd ~0.016)
    assert abs(merged["k"]["distinct"] - 700) <= 0.05 * 700
    assert merged["s"]["distinct"] == 41
    # every group saw all 700 k-values here, so ALSO check a case where
    # the lower bound is strictly worse: disjoint key ranges per group
    parts = []
    for i in range(4):
        sub = (spark.range(i * 250, (i + 1) * 250)
               .select(F.col("id").cast("int").alias("k")))
        parts.append(sub.agg(*stats_exprs(sub, ["k"], quantiles=None,
                                          hll_sketch=True))
                     .collect()[0].asDict())
    m2 = _merge_observed_stats(parts, ["k"], spark=spark)
    # sketchable columns carry ONLY the sketch (approx_count_distinct
    # would be a second per-row HLL structure for a strictly-dominated
    # number) — so no lower bound, just the true union
    assert "distinct_lower_bound" not in m2["k"]
    assert abs(m2["k"]["distinct"] - 1000) <= 0.05 * 1000  # the union


def test_kll_merged_quantiles_across_groups(spark):
    """Cross-group quantiles (round 4): per-group KLL sketches merge into
    whole-table quantiles within the sketch's rank error — finalized
    percentile_approx arrays cannot be combined at all, which is why the
    observe path carries sketches."""
    import pyspark.sql.functions as F
    from jio_spark.operators.stats import stats_exprs
    from jio_spark.runner import _merge_observed_stats

    n = 20000
    df = spark.range(n).select((F.col("id") % 4).alias("g"),
                               (F.col("id") * 1.0).alias("v"))
    group_stats = []
    for i in range(4):  # interleaved groups: each sees the full range
        sub = df.where(F.col("g") == i)
        group_stats.append(
            sub.agg(*stats_exprs(sub, ["v"], quantiles=None,
                                 kll_quantiles=True)).collect()[0].asDict())
    ps = (0.01, 0.25, 0.5, 0.75, 0.99)
    m = _merge_observed_stats(group_stats, ["v"], spark=spark,
                              quantile_ps=ps)
    got = m["v"]["quantiles"]
    for p in ps:
        # uniform 0..n → value at rank p is ~p*n; KLL k=200 rank error
        # ~1.7% (3 sigma), give 3%
        assert abs(got[str(p)] - p * n) <= 0.03 * n, (p, got)


def test_resume_after_crash_in_concurrent_group(spark, clips_path, tmp_path,
                                                monkeypatch):
    """A crash in ONE group while three others run concurrently: the
    completed groups' manifest marks stand, the resumed run re-runs only
    the crashed group, and the final sink matches a crash-free run
    exactly (the per-partition overwrite makes the re-run idempotent)."""
    df = spark.read.parquet(clips_path)

    def make_job(conc):
        return ClipsValidationJob(
            spark, ClipsJobConfig(group_size=4, audio_check=False,
                                  drift=False, group_concurrency=conc))

    def viols(out):
        return sorted(
            (r["clip_id"], r["rule_path"])
            for r in spark.read.parquet(os.path.join(out, "violations"))
            .select("clip_id", "rule_path").collect())

    clean_out = str(tmp_path / "clean")
    make_job(4).run(df, output_root=clean_out, table_root=clips_path)

    crash_out = str(tmp_path / "crash")
    orig = Manifest.mark
    fired = []

    def failing(self, key, parts, meta=None):
        if key == "group_4_7" and not fired:
            fired.append(1)
            raise RuntimeError("injected crash before mark")
        return orig(self, key, parts, meta)

    monkeypatch.setattr(Manifest, "mark", failing)
    with pytest.raises(RuntimeError, match="injected crash"):
        make_job(4).run(df, output_root=crash_out, table_root=clips_path)
    assert fired  # the crash actually happened

    done = Manifest(crash_out).completed()
    assert "group_4_7" not in done  # crashed group not marked

    m = make_job(4).run(df, output_root=crash_out, table_root=clips_path,
                        resume=True)
    assert m["groups_run"] == 4 - len(
        [k for k in done if k.startswith("group_")])
    assert viols(crash_out) == viols(clean_out)


def test_merge_handles_all_null_columns(spark):
    """Review regression (round 4): an entirely-null numeric column
    yields EMPTY KLL sketches in every group — kll_sketch_get_quantile
    throws on an empty merged sketch — so the merge must answer such
    columns driver-side (distinct 0, no quantiles) instead of crashing
    the whole run after all groups already finished."""
    import pyspark.sql.functions as F
    from jio_spark.operators.stats import stats_exprs
    from jio_spark.runner import _merge_observed_stats

    df = (spark.range(200)
          .select((F.col("id") % 2).alias("g"),
                  F.lit(None).cast("int").alias("dead"),
                  F.lit(None).cast("string").alias("dead_s"),
                  (F.col("id") % 9).cast("int").alias("live")))
    groups = []
    for i in range(2):
        sub = df.where(F.col("g") == i)
        groups.append(sub.agg(*stats_exprs(
            sub, ["dead", "dead_s", "live"], quantiles=None,
            hll_sketch=True, kll_quantiles=True)).collect()[0].asDict())
    m = _merge_observed_stats(groups, ["dead", "dead_s", "live"],
                              spark=spark)
    assert m["dead"]["distinct"] == 0
    assert "quantiles" not in m["dead"]
    assert m["dead"]["nulls"] == 200
    assert m["dead_s"]["distinct"] == 0
    # the live column still merges normally in the same call
    assert m["live"]["distinct"] == 9
    assert m["live"]["quantiles"]["0.5"] == 4.0
    # and a PARTIALLY null column merges fine (empty+nonempty sketches)
    df2 = (spark.range(200)
           .select((F.col("id") % 2).alias("g"),
                   F.when(F.col("id") % 2 == 0,
                          F.col("id").cast("int")).alias("half")))
    groups2 = []
    for i in range(2):
        sub = df2.where(F.col("g") == i)
        groups2.append(sub.agg(*stats_exprs(
            sub, ["half"], quantiles=None, hll_sketch=True,
            kll_quantiles=True)).collect()[0].asDict())
    m2 = _merge_observed_stats(groups2, ["half"], spark=spark)
    assert abs(m2["half"]["distinct"] - 100) <= 5
    assert "quantiles" in m2["half"]


def test_fresh_run_clears_stale_step_outputs(spark, tmp_path):
    """Dynamic partition overwrite never deletes a partition absent
    from the new data: a fresh run into a root whose previous run wrote
    violations must clear the step outputs first, or a now-clean
    partition keeps phantom violation rows under the new run.json."""
    import glob

    out = str(tmp_path / "root")
    cfg = ClipsJobConfig(group_size=16, audio_check=False, drift=False)
    job = ClipsValidationJob(spark, cfg)
    job.run(clips_frame(spark, 300, clean=False, partitions=2),
            output_root=out)
    vdir = os.path.join(out, "violations")
    assert glob.glob(os.path.join(vdir, "**", "*.parquet"),
                     recursive=True)  # dirty run produced rows
    job.run(clips_frame(spark, 300, clean=True, partitions=2),
            output_root=out)
    stale = glob.glob(os.path.join(vdir, "**", "*.parquet"),
                      recursive=True)
    assert not stale or spark.read.parquet(vdir).count() == 0


def test_resume_preserves_uniqueness_metrics(spark, tmp_path):
    """A resumed run skips the completed uniqueness step but must carry
    its recorded count into this run's metrics/run.json — returning 0
    would claim zero duplicates while the written violations disagree."""
    out = str(tmp_path / "uniq")
    base = clips_frame(spark, 200, clean=True, partitions=2)
    df = base.unionByName(base.limit(5))
    cfg = ClipsJobConfig(group_size=16, audio_check=False, drift=False)
    job = ClipsValidationJob(spark, cfg)
    m1 = job.run(df, output_root=out)
    assert m1["uniqueness_violations"] == 5
    m2 = job.run(df, output_root=out, resume=True)
    assert m2["groups_run"] == 0
    assert m2["uniqueness_violations"] == 5
    # the final wholesale run.json rewrite carries the real count too
    from jio_spark.sinks.writers import RunSink
    meta = RunSink(out).read_run_metadata()
    assert meta["metrics"]["uniqueness_violations"] == 5


def test_resume_refuses_changed_codec_dim(spark, clips_path, tmp_path):
    """The referential dim's CONTENTS are output semantics: resuming
    with a rebuilt dim missing a codec would flag every row carrying it
    in the resumed groups only — the exact mixed-config output the
    fingerprint exists to prevent."""
    df = spark.read.parquet(clips_path)
    out = str(tmp_path / "dim")
    cfg = ClipsJobConfig(group_size=16, audio_check=False, drift=False)
    ClipsValidationJob(spark, cfg,
                       codec_dim=default_codec_dim(spark)) \
        .run(df, output_root=out)
    smaller = default_codec_dim(spark).where(F.col("codec") != "ulaw")
    with pytest.raises(ValueError, match="resume would mix"):
        ClipsValidationJob(spark, cfg, codec_dim=smaller) \
            .run(df, output_root=out, resume=True)


def test_ruleset_fingerprint_sees_nested_params_not_addresses():
    """Two properties the resume guard depends on: a changed NESTED rule
    parameter must move the digest (the children dict of every
    K.object({...}) used to fall to repr(), which prints rule names
    only — a .min(200) → .min(5000) edit fingerprinted identically and
    the guard silently mixed two rule versions' outputs), and a
    byte-identical callable must NOT (repr(fn) embeds the memory
    address, which changes every process, so resume was permanently
    refused for any custom-fn ruleset)."""
    from jio_spark.dsl import K
    from jio_spark.sinks.writers import ruleset_fingerprint

    a = K.object({"dur_ms": K.number().min(200)})
    b = K.object({"dur_ms": K.number().min(5000)})
    assert ruleset_fingerprint(a) != ruleset_fingerprint(b)
    # nested two deep
    c = K.object({"o": K.object({"s": K.string().max(4)})})
    d = K.object({"o": K.object({"s": K.string().max(5)})})
    assert ruleset_fingerprint(c) != ruleset_fingerprint(d)
    # children insertion order is semantic (priority tie-break)
    e = K.object({"x": K.number(), "y": K.number()})
    g = K.object({"y": K.number(), "x": K.number()})
    assert ruleset_fingerprint(e) != ruleset_fingerprint(g)

    def mk(limit):
        return K.object({"q": K.number().check(lambda col: col > limit)})

    # same code, two separate construction sites (distinct fn objects,
    # distinct addresses) → same fingerprint
    assert ruleset_fingerprint(mk(3)) == ruleset_fingerprint(mk(3))
    # ... but a changed captured constant changes behavior → different
    assert ruleset_fingerprint(mk(3)) != ruleset_fingerprint(mk(4))
    # implicit vs explicit optional compile identically → hash equal
    assert ruleset_fingerprint(K.object({"q": K.number()})) == \
        ruleset_fingerprint(K.object({"q": K.number().optional()}))


def test_fingerprint_sees_partials_and_bound_instance_state():
    """Callable params whose behavior lives OUTSIDE the code object:
    a functools.partial has no __code__ at all (every partial of every
    function used to collapse to one token — a resumed run
    false-ACCEPTED a changed threshold), and bound methods of two
    differently-configured instances share one code object."""
    import functools
    from jio_spark.dsl import K
    from jio_spark.sinks.writers import ruleset_fingerprint

    def gt(col, limit):
        return col > limit

    def mk_partial(limit):
        return K.object({"q": K.number().check(
            functools.partial(gt, limit=limit))})

    assert ruleset_fingerprint(mk_partial(200)) == \
        ruleset_fingerprint(mk_partial(200))
    assert ruleset_fingerprint(mk_partial(200)) != \
        ruleset_fingerprint(mk_partial(5000))
    # positional partial args count too
    def mk_pos(limit):
        return K.object({"q": K.number().check(
            functools.partial(lambda lim, col: col > lim, limit))})
    assert ruleset_fingerprint(mk_pos(1)) != ruleset_fingerprint(mk_pos(2))

    class RangeCheck:
        def __init__(self, limit):
            self.limit = limit

        def chk(self, col):
            return col > self.limit

        def __call__(self, col):
            return col > self.limit

    def mk_bound(limit):
        return K.object({"q": K.number().check(RangeCheck(limit).chk)})

    def mk_inst(limit):
        return K.object({"q": K.number().check(RangeCheck(limit))})

    assert ruleset_fingerprint(mk_bound(200)) == \
        ruleset_fingerprint(mk_bound(200))
    assert ruleset_fingerprint(mk_bound(200)) != \
        ruleset_fingerprint(mk_bound(5000))
    assert ruleset_fingerprint(mk_inst(200)) == \
        ruleset_fingerprint(mk_inst(200))
    assert ruleset_fingerprint(mk_inst(200)) != \
        ruleset_fingerprint(mk_inst(5000))


def test_manifest_mark_survives_hostile_group_keys(tmp_path):
    """Group keys embed raw partition VALUES; _unescape_hive decodes
    %2F back to '/' so values stay isin-matchable, which means a key
    like 'group_a/b_a/b' must not be used verbatim as a filename (the
    open() under a nonexistent subdirectory crashed the mark AFTER the
    group's work, re-running it on every resume forever)."""
    m = Manifest(str(tmp_path / "out"))
    hostile = ["group_a/b_a/b", "group_c:d_c:d", "group_.._..",
               "group_" + "x" * 400, "group_%2F_literal"]
    for i, key in enumerate(hostile):
        m.mark(key, [f"p{i}"], {"n": i})
    recs = m.completed()
    assert sorted(recs) == sorted(hostile)
    for i, key in enumerate(hostile):
        assert recs[key]["partitions"] == [f"p{i}"]
    # distinct hostile keys never collide on disk
    assert len(os.listdir(m.dir)) == len(hostile)
    m.clear()
    assert m.completed() == {}


def test_hive_int_parse_matches_spark_inference(spark, tmp_path):
    """parse_hive_values must parse ints with JAVA semantics, not
    Python's: int('1_0') == 10 while Spark's partition-type inference
    (Long.parseLong) rejects underscores and keeps the column string —
    a Python-lenient parse builds an int wanted-set that matches
    NOTHING in the string column's isin filter, so every partition
    validates zero rows yet is marked complete (the silent skip)."""
    from jio_spark.sources.tables import (list_partition_values,
                                          parse_hive_values)

    assert parse_hive_values(["1_0", "2_0"]) == {"1_0": "1_0",
                                                 "2_0": "2_0"}
    assert parse_hive_values(["7", "-3"]) == {"7": 7, "-3": -3}
    # whitespace AND trailing newline stay strings (Long.parseLong
    # rejects both; Python's int() accepts both — '5\n' parsing to 5
    # would re-create the exact silent skip on a 'bucket_id=5%0A' dir)
    assert parse_hive_values([" 5"]) == {" 5": " 5"}
    assert parse_hive_values(["5\n"]) == {"5\n": "5\n"}
    # beyond-int64: Spark infers decimal(20,0) (Long→BigDecimal order),
    # NOT string — a string here would cross-match distinct >2^63
    # values through lossy double coercion in the isin filter
    from decimal import Decimal
    assert parse_hive_values(["99999999999999999999"]) == {
        "99999999999999999999": Decimal("99999999999999999999")}

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("1_0", 1), ("1_0", 2), ("2_0", 3)], "bucket_id string, x int")
    df.write.partitionBy("bucket_id").parquet(p)
    listed = list_partition_values(spark, p, "bucket_id")
    back = spark.read.parquet(p)
    # the listed values must compare equal to the read-back column —
    # the property the isin pruning filter rides on
    assert sorted(listed) == ["1_0", "2_0"]
    got = {r[0] for r in back.select("bucket_id").distinct().collect()}
    assert set(listed) == got


def test_hive_beyond_int64_and_newline_match_spark(spark, tmp_path):
    """The two inference corners a lenient parse gets wrong, pinned
    against a REAL partitioned read: beyond-int64 dirs type the column
    decimal(20,0) (two >2^63 values must prune to their own rows, not
    cross-match through double coercion), and a trailing-newline dir
    keeps the column string-typed."""
    import pyspark.sql.functions as F
    from decimal import Decimal
    from jio_spark.sources.tables import list_partition_values

    big = str(tmp_path / "big")
    df = spark.createDataFrame([(1,), (2,)], "x int")
    base = 1 << 64
    df.where("x=1").write.parquet(
        os.path.join(big, f"bucket_id={base}"))
    df.where("x=2").write.parquet(
        os.path.join(big, f"bucket_id={base + 1}"))
    listed = list_partition_values(spark, big, "bucket_id")
    assert listed == [Decimal(base), Decimal(base + 1)]
    back = spark.read.parquet(big)
    assert dict(back.dtypes)["bucket_id"] == "decimal(20,0)"
    # each wanted value selects exactly its own partition's rows
    for v, want_x in ((listed[0], 1), (listed[1], 2)):
        rows = back.where(F.col("bucket_id").isin([v])).collect()
        assert [r["x"] for r in rows] == [want_x], v

    nl = str(tmp_path / "nl")
    df.where("x=1").write.parquet(os.path.join(nl, "bucket_id=5%0A"))
    df.where("x=2").write.parquet(os.path.join(nl, "bucket_id=7"))
    listed = list_partition_values(spark, nl, "bucket_id")
    assert listed == ["5\n", "7"]
    back = spark.read.parquet(nl)
    assert dict(back.dtypes)["bucket_id"] == "string"
    rows = back.where(F.col("bucket_id").isin(["5\n"])).collect()
    assert [r["x"] for r in rows] == [1]


def test_partition_type_guard_refuses_unmatchable_wanted_set(spark):
    """A date/double-typed partition column (Spark infers those from
    dir names; the engine's integer parse deliberately does not) must
    refuse at plan time — the isin filter would select zero rows while
    every group gets marked complete."""
    import datetime
    from jio_spark.sources.tables import check_partition_value_types
    import pyspark.sql.types as T

    # the supported families pass
    check_partition_value_types([1, 2, None], T.IntegerType())
    check_partition_value_types([1, 2], T.LongType())
    from decimal import Decimal
    check_partition_value_types(
        [1, Decimal(1 << 64)], T.DecimalType(20, 0))
    check_partition_value_types(["a", "b", None], T.StringType())
    check_partition_value_types([None], T.DateType())  # null-only: ok

    with pytest.raises(ValueError, match="zero rows"):
        check_partition_value_types(["2026-01-01"], T.DateType())
    with pytest.raises(ValueError, match="zero rows"):
        check_partition_value_types(["1.5"], T.DoubleType())
    with pytest.raises(ValueError, match="zero rows"):
        # inference disabled: string column, int-parsed wanted-set
        check_partition_value_types([5, 7], T.StringType())
    with pytest.raises(ValueError, match="zero rows"):
        # fractional decimal columns are not isin-safe for an int set
        check_partition_value_types([1], T.DecimalType(10, 2))


def test_fingerprint_sees_callable_instance_call_body():
    """A bare callable instance (defines __call__, no __code__ of its
    own) must fingerprint its __call__ BYTECODE, not just the instance
    __dict__: editing the rule body between a crash and a resume with
    unchanged state used to false-ACCEPT — the one failure direction
    the fingerprint guard must never take."""
    from jio_spark.dsl import K
    from jio_spark.sinks.writers import ruleset_fingerprint

    def mk(op):
        class Chk:
            def __init__(self, limit):
                self.limit = limit
            if op == "gt":
                def __call__(self, col):
                    return col > self.limit
            else:
                def __call__(self, col):
                    return col >= self.limit + 1000
        return K.object({"q": K.number().check(Chk(5))})

    # same state, different __call__ body -> different fingerprint
    assert ruleset_fingerprint(mk("gt")) != ruleset_fingerprint(mk("ge"))
    # byte-identical body and state, two construction sites -> equal
    assert ruleset_fingerprint(mk("gt")) == ruleset_fingerprint(mk("gt"))
    # state still matters alongside the bytecode
    def mk_state(limit):
        class Chk:
            def __init__(self, limit):
                self.limit = limit
            def __call__(self, col):
                return col > self.limit
        return K.object({"q": K.number().check(Chk(limit))})
    assert ruleset_fingerprint(mk_state(5)) != \
        ruleset_fingerprint(mk_state(6))
