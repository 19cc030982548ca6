"""Exemplar-capped violations sink (`violations_sink='exemplars'`).

At 10^12 clips a 1% violation rate writes 10^10 rows — the violations
output becomes its own big-data problem. The exemplars mode bounds it to
k rows per (partition, rule_path, rule_name) with the group's EXACT
total riding each kept row, in one window pass over the violation rows
(never a second source scan: that would re-run the audio decode).

Oracle: DuckDB replays the cap (row_number + count over the same keys)
over the identical input rows — the same differential style as the
driver's correctness gate.
"""

import os

import duckdb
import pytest
import pyspark.sql.functions as F

from jio_spark.audio.synth import write_clips
from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                              default_codec_dim)
from jio_spark.sinks.writers import exemplar_cap


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("exclips") / "clips.parquet")
    write_clips(spark, 800, p, partitions=4)
    return p


def _viol_rows():
    """Deterministic violations-shaped rows: group sizes straddle the
    cap (1, exactly k, k+3), duplicate clip_ids inside one group, and a
    clip_id shared across groups."""
    rows = []
    for i in range(8):  # bucket 0, path a, rule min: k+3 rows for k=5
        rows.append((f"c{i:03d}", "a", "min", "x", "y", f"m{i}", 0))
    for i in range(5):  # bucket 0, path b, rule regex: exactly k
        rows.append((f"c{i:03d}", "b", "regex", "x", "y", f"m{i}", 0))
    rows.append(("c000", "c", "required", "x", "y", "m", 1))  # single
    # duplicate clip_id in one group — ordered by (clip_id, message)
    rows.append(("c000", "a", "min", "x", "y", "m0", 1))
    rows.append(("c000", "a", "min", "x", "y", "m1", 1))
    return rows


COLS = ["clip_id", "rule_path", "rule_name", "expected", "actual",
        "message", "bucket_id"]


def test_exemplar_cap_matches_duckdb_oracle(spark):
    k = 5
    rows = _viol_rows()
    df = spark.createDataFrame(rows, COLS)
    got = sorted(tuple(r) for r in exemplar_cap(df, k).collect())

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v (clip_id text, rule_path text, rule_name text, "
        "expected text, actual text, message text, bucket_id int)")
    con.executemany("INSERT INTO v VALUES (?,?,?,?,?,?,?)", rows)
    want = sorted(tuple(r) for r in con.execute(f"""
        SELECT clip_id, rule_path, rule_name, expected, actual, message,
               bucket_id,
               row_number() OVER w_o AS exemplar_rank,
               count(*) OVER w_p AS group_violations
        FROM v
        WINDOW w_p AS (PARTITION BY bucket_id, rule_path, rule_name),
               w_o AS (w_p ORDER BY clip_id, message)
        QUALIFY exemplar_rank <= {k}
        """).fetchall())
    assert got == want
    # the capped group really is capped, the exact total really rides
    by_group = {}
    for r in got:
        by_group.setdefault((r[6], r[1], r[2]), []).append(r)
    assert len(by_group[(0, "a", "min")]) == k
    assert all(r[8] == 8 for r in by_group[(0, "a", "min")])
    assert len(by_group[(1, "c", "required")]) == 1


def test_exemplar_cap_salted_phases_match_oracle(spark):
    """The skew guard: a hot group (one rule failing on every row) is
    split across content-salt subgroups in phase 1 so no single window
    task holds the whole group. The two-phase result must be
    bit-identical to the naive single-window oracle — same exemplars,
    same ranks, same EXACT totals — for salts below, at, and above the
    group size (salt=1 degenerates to the single-phase plan)."""
    k = 4
    # hot group: 64 rows, one rule, one bucket; plus a small group
    rows = [(f"h{i:03d}", "hot", "max", "x", "y", f"m{i % 7}", 0)
            for i in range(64)]
    rows += [(f"c{i}", "b", "regex", "x", "y", "m", 1) for i in range(3)]
    df = spark.createDataFrame(rows, COLS).repartition(8)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v (clip_id text, rule_path text, rule_name text, "
        "expected text, actual text, message text, bucket_id int)")
    con.executemany("INSERT INTO v VALUES (?,?,?,?,?,?,?)", rows)
    want = sorted(tuple(r) for r in con.execute(f"""
        SELECT *, row_number() OVER w_o AS exemplar_rank,
               count(*) OVER w_p AS group_violations
        FROM v
        WINDOW w_p AS (PARTITION BY bucket_id, rule_path, rule_name),
               w_o AS (w_p ORDER BY clip_id, message)
        QUALIFY exemplar_rank <= {k}
        """).fetchall())
    for s in (1, 5, 256):
        got = sorted(tuple(r)
                     for r in exemplar_cap(df, k, salt=s).collect())
        assert got == want, f"salt={s}"


def test_exemplar_cap_tie_break_is_deterministic(spark):
    """Decode violations can tie on (clip_id, message) while differing
    in `actual` (the per-row error string lives there, not in the
    message). The order key extends to every remaining atomic column,
    so the row kept at the cap boundary is the minimum under the full
    key — the same row every run, any salt, any input partitioning —
    keeping crash-resume rewrites byte-identical."""
    rows = [("c0", "a", "decode", "x", "err-B", "m", 0),
            ("c0", "a", "decode", "x", "err-A", "m", 0),
            ("c0", "a", "decode", "x", "err-C", "m", 0)]
    want = ("c0", "a", "decode", "x", "err-A", "m", 0, 1, 3)
    for s in (1, 7, 256):
        for parts in (1, 3):
            df = spark.createDataFrame(rows, COLS).repartition(parts)
            got = exemplar_cap(df, 1, salt=s).collect()
            assert [tuple(r) for r in got] == [want], (s, parts)


def test_exemplar_cap_rejects_reserved_columns(spark):
    df = spark.createDataFrame(_viol_rows(), COLS)
    capped = exemplar_cap(df, 2)
    # re-capping an already-capped frame would silently recompute the
    # exact totals over the capped subset — refuse at plan-build time
    with pytest.raises(KeyError, match="reserved"):
        exemplar_cap(capped, 1)
    with pytest.raises(KeyError, match="reserved"):
        exemplar_cap(df.withColumn("_x_salt", F.lit(1)), 2)


def test_resume_refuses_pre_upgrade_root_in_exemplars_mode(
        spark, clips_path, tmp_path):
    """A run.json written before the exemplars sink existed has no
    violations_sink key; absent must mean 'was full mode', not 'skip
    the check' — resuming such a root in exemplars mode would mix
    unbounded and capped groups in one violations dir."""
    import json
    out = str(tmp_path / "preup")
    df = spark.read.parquet(clips_path)
    kw = dict(group_size=16, drift=False, audio_check=False)
    ClipsValidationJob(spark, ClipsJobConfig(**kw)).run(
        df, output_root=out, table_root=clips_path)
    run_json = os.path.join(out, "run.json")
    with open(run_json) as f:
        meta = json.load(f)
    meta.pop("violations_sink")  # simulate the pre-upgrade root
    with open(run_json, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="two different config"):
        ClipsValidationJob(spark, ClipsJobConfig(
            violations_sink="exemplars", **kw)).run(
            df, output_root=out, resume=True, table_root=clips_path)
    # same-mode resume of the old root still works: absent == 'full'
    ClipsValidationJob(spark, ClipsJobConfig(**kw)).run(
        df, output_root=out, resume=True, table_root=clips_path)


def test_exemplar_cap_rejects_nonpositive_k(spark):
    df = spark.createDataFrame(_viol_rows(), COLS)
    with pytest.raises(ValueError, match=">= 1"):
        exemplar_cap(df, 0)


def _run(spark, clips_path, out, **cfg_kw):
    df = spark.read.parquet(clips_path)
    cfg = ClipsJobConfig(group_size=16, drift=False, **cfg_kw)
    job = ClipsValidationJob(spark, cfg,
                             codec_dim=default_codec_dim(spark))
    job.run(df, output_root=out, table_root=clips_path)
    return spark.read.parquet(os.path.join(out, "violations"))


def test_runner_exemplar_mode_bounds_and_counts(spark, clips_path,
                                                tmp_path):
    """Exemplars mode vs full mode on the same dirty table: every group
    is capped at k, and every kept row's group_violations equals the
    full-mode count for that exact group — including the decode-stream
    violations, which union in upstream of the cap."""
    k = 3
    full = _run(spark, clips_path, str(tmp_path / "full"))
    ex = _run(spark, clips_path, str(tmp_path / "ex"),
              violations_sink="exemplars", violations_exemplars=k)

    assert set(ex.columns) == set(full.columns) | {
        "exemplar_rank", "group_violations"}

    keys = ["bucket_id", "rule_path", "rule_name"]
    sizes = {tuple(r[c] for c in keys): r["n"]
             for r in ex.groupBy(*keys).agg(
                 F.count("*").alias("n")).collect()}
    assert sizes and max(sizes.values()) <= k

    want = {tuple(r[c] for c in keys): r["n"]
            for r in full.groupBy(*keys).agg(
                F.count("*").alias("n")).collect()}
    got = {tuple(r[c] for c in keys): r["group_violations"]
           for r in ex.select(*keys, "group_violations")
                      .distinct().collect()}
    assert got == want  # same groups, exact totals, nothing dropped
    # at least one group actually exceeded the cap (else the test says
    # nothing about capping)
    assert any(v > k for v in want.values())
    # decode violations flow through the same cap
    assert any(r["rule_name"] == "decode"
               for r in ex.select("rule_name").distinct().collect())

    # exemplars are the k smallest clip_ids of the full stream, per group
    big = max(want, key=want.get)
    cond = ((F.col("bucket_id") == big[0])
            & (F.col("rule_path") == big[1])
            & (F.col("rule_name") == big[2]))
    want_ids = [r["clip_id"] for r in full.where(cond)
                .orderBy("clip_id", "message").limit(k).collect()]
    got_ids = [r["clip_id"] for r in ex.where(cond)
               .orderBy("exemplar_rank").collect()]
    assert got_ids == want_ids


def test_exemplar_mode_is_deterministic(spark, clips_path, tmp_path):
    a = _run(spark, clips_path, str(tmp_path / "a"),
             violations_sink="exemplars", violations_exemplars=2)
    b = _run(spark, clips_path, str(tmp_path / "b"),
             violations_sink="exemplars", violations_exemplars=2)
    assert sorted(map(tuple, a.collect())) == \
        sorted(map(tuple, b.collect()))


def test_resume_refuses_sink_mode_mix(spark, clips_path, tmp_path):
    """A completed exemplars-mode group wrote capped rows; resuming the
    same root in full mode (or under a different cap) would mix bounded
    and unbounded groups in one violations dir — the semantic
    fingerprint must refuse, same as a rule change."""
    out = str(tmp_path / "mix")
    df = spark.read.parquet(clips_path)
    kw = dict(group_size=16, drift=False, audio_check=False)
    job = ClipsValidationJob(
        spark, ClipsJobConfig(violations_sink="exemplars",
                              violations_exemplars=5, **kw))
    job.run(df, output_root=out, table_root=clips_path)
    for bad in (ClipsJobConfig(**kw),
                ClipsJobConfig(violations_sink="exemplars",
                               violations_exemplars=7, **kw)):
        with pytest.raises(ValueError, match="two different config"):
            ClipsValidationJob(spark, bad).run(
                df, output_root=out, resume=True, table_root=clips_path)


def test_bad_sink_mode_fails_loudly(spark, clips_path):
    df = spark.read.parquet(clips_path)
    with pytest.raises(ValueError, match="violations_sink"):
        job = ClipsValidationJob(
            spark, ClipsJobConfig(violations_sink="exemplar",  # typo
                                  audio_check=False, drift=False))
        job.run(df)
    with pytest.raises(ValueError, match="violations_exemplars"):
        job = ClipsValidationJob(
            spark, ClipsJobConfig(violations_sink="exemplars",
                                  violations_exemplars=0,
                                  audio_check=False, drift=False))
        job.run(df)


def test_exemplar_cap_tie_break_covers_complex_columns(spark):
    """Library-surface violations frames can carry complex columns (an
    array payload next to the id/message columns). Rows tying on every
    ATOMIC column but differing in the array must still be picked
    deterministically — the complex columns join the order key as
    their canonical JSON, so the kept exemplar is the JSON-minimum,
    the same row every run, any salt, any partitioning."""
    complex_cols = ["clip_id", "rule_path", "rule_name", "expected",
                    "actual", "message", "bucket_id", "payload"]
    rows = [("c0", "a", "min", "x", "y", "m", 0, [9, 9]),
            ("c0", "a", "min", "x", "y", "m", 0, [1, 2]),
            ("c0", "a", "min", "x", "y", "m", 0, [5])]
    want = ("c0", "a", "min", "x", "y", "m", 0, [1, 2], 1, 3)
    for s in (1, 7):
        for parts in (1, 3):
            df = spark.createDataFrame(rows, complex_cols) \
                      .repartition(parts)
            got = exemplar_cap(df, 1, salt=s).collect()
            assert [(*r[:8],) + (r[8], r[9]) for r in got] == [want], \
                (s, parts)
