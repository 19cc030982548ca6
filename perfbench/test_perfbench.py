"""Tests of the benchmark's own arithmetic: span self times, the
per-pass output check (a fake clock and fake metrics) and the input
generator against the synth rows it follows. No Spark.

    python3 -m pytest perfbench -q
"""

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import check_pass  # noqa: E402
from spans import Tracer, covered, unattributed  # noqa: E402


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now

    def advance(self, dt):
        self.now += dt


def test_self_time_subtracts_children():
    clk = FakeClock()
    tr = Tracer("r1", clock=clk)
    with tr.span("pass") as root:
        clk.advance(1.0)
        with tr.span("a"):
            clk.advance(2.0)
            with tr.span("a.inner"):
                clk.advance(0.5)
        clk.advance(0.25)
        with tr.span("b"):
            clk.advance(3.0)
    assert root.duration == 6.75
    st = tr.self_times()
    assert st["pass"] == 1.25          # 6.75 - (2.5 + 3.0)
    assert st["a"] == 2.0              # 2.5 - 0.5
    assert st["a.inner"] == 0.5
    assert st["b"] == 3.0
    assert all(s.run_id == "r1" for s in tr.spans)
    assert tr.spans[2].parent == tr.spans[1].id


def test_overlapping_children_count_once():
    assert covered([(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)], 0.0, 10.0) == 4.0
    assert covered([(-1.0, 2.0)], 0.0, 1.0) == 1.0


def test_unattributed_is_job_minus_layer_self_times():
    layer = {"engine.scan": 4.0, "audio.files_decode": 3.0,
             "compiler.compile": 2.0}
    assert unattributed(10.0, layer, ["engine.scan",
                                      "audio.files_decode"]) == 3.0
    assert unattributed(5.0, layer, ["engine.scan", "audio.files_decode",
                                     "missing"]) == -2.0


EXPECTED = {"rows": 100, "violations": 7, "uniqueness_violations": 2}


def _metrics(**kw):
    m = {"rows": 100, "uniqueness_violations": 2,
         "row_integrity": {"ok": True}}
    m.update(kw)
    return m


def test_check_pass_accepts_expected_counts():
    persisted = {"violations": 7, "uniqueness_violations": 2}
    assert check_pass(_metrics(), persisted, EXPECTED) == []
    counts = {"rows": 100, "violations": 7, "uniqueness_violations": 2,
              "uniqueness_rows": 2}
    assert check_pass(_metrics(), persisted, EXPECTED, counts) == []


def test_check_pass_flags_each_defect():
    ok = {"violations": 7, "uniqueness_violations": 2}
    assert check_pass(_metrics(rows=99), ok, EXPECTED)
    assert check_pass(_metrics(), {**ok, "violations": 8}, EXPECTED)
    assert check_pass(_metrics(uniqueness_violations=3),
                      {**ok, "uniqueness_violations": 3}, EXPECTED)
    assert check_pass(_metrics(), {**ok, "uniqueness_violations": 1},
                      EXPECTED)
    assert check_pass(_metrics(row_integrity={"ok": False}), ok, EXPECTED)
    changed = {"rows": 100, "violations": 6, "uniqueness_violations": 2,
               "uniqueness_rows": 2}
    assert check_pass(_metrics(), ok, EXPECTED, changed)


def test_check_pass_without_integrity_report():
    m = _metrics()
    del m["row_integrity"]
    assert check_pass(m, {"violations": 7, "uniqueness_violations": 2},
                      EXPECTED) == []


def test_declared_fields_follow_make_row():
    """The metadata the meta table and the expected counts are built from
    equals the declared columns synth.make_row writes, on a block holding
    every declared-field anomaly."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from inputs import declared_row
    from jio_spark.audio.synth import _u, make_row
    rows = range(113_000_000, 113_001_500)
    got = [declared_row(i) for i in rows]
    for i, d in zip(rows, got):
        assert (d.clip_id, d.sr_hz, d.dur_ms, d.codec, d.transcript) == \
            tuple(make_row(i)[k] for k in (0, 2, 3, 4, 5))
    assert all(any(flag(i, d) for i, d in zip(rows, got)) for flag in (
        lambda i, d: d.sr_bad, lambda i, d: d.dur_bad,
        lambda i, d: d.truncated, lambda i, d: d.codec == "opus",
        lambda i, d: _u(i, 15) < 0.005,                  # mutated
        lambda i, d: d.clip_id != f"clip_{i:012d}"))     # duplicated


def test_any_integer_seed_selects_a_block():
    """Negative and large seeds map into the 12-digit id space, and
    seeds one block count apart give the same input."""
    from inputs import SEED_BLOCKS, SEED_STRIDE, seed_offset
    for seed in (0, 1, 999_999, 10**6, 2**63, -1, -(2**40)):
        start = seed_offset(seed)
        assert start % SEED_STRIDE == 0
        assert 0 <= start and start + SEED_STRIDE <= 10**12
    assert seed_offset(7) == seed_offset(7 + SEED_BLOCKS)


def test_meta_table_counts(tmp_path):
    """The meta table holds one row per index, bucketed by ``i % 16``,
    and its expected counts are the rule violations and duplicated ids
    of its rows."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import pyarrow.parquet as pq
    from inputs import TableSpec, declared_row, ensure_table, \
        rule_violations
    table = ensure_table(TableSpec("meta", 2000, 16, 1), 113,
                         str(tmp_path), workers=1)
    rows = range(113_000_000, 113_002_000)
    bucket3 = pq.read_table(os.path.join(table.root, "bucket_id=3"))
    assert bucket3.column("clip_id").to_pylist() == \
        [declared_row(i).clip_id for i in rows if i % 16 == 3]
    ids = Counter(declared_row(i).clip_id for i in rows)
    assert table.expected == {
        "rows": 2000,
        "violations": sum(rule_violations(declared_row(i)) for i in rows),
        "uniqueness_violations": sum(1 for c in ids.values() if c > 1)}


def test_clip_decode_defects_match_the_decode_check():
    """The per-row decode defects the expected counts assume equal what
    the decode check reports, on a block holding a duplicated id whose
    tone matches its reference's per sample (row 113000565)."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import pandas as pd
    from inputs import CLIP_COLUMNS, clip_row_defects
    from jio_spark.audio.decode import _decode_batches
    from jio_spark.audio.synth import make_row
    rows = range(113_000_400, 113_000_700)
    pdf = pd.DataFrame([make_row(i)[:6] for i in rows],
                       columns=CLIP_COLUMNS)
    out = next(_decode_batches(True, 30.0, 2)(iter([pdf])))
    flags = ["decode_ok", "codec_match", "sr_match", "dur_match", "snr_ok",
             "transcript_match"]
    got = (~out[flags]).sum(axis=1).tolist()
    want = [clip_row_defects(i)[2] for i in rows]
    assert got == want
    assert out["snr_db"][165] == float("inf")   # the matching-tone copy
