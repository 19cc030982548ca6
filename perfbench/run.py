"""Benchmark of the clips validation job, ``ClipsValidationJob.run``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload clips_files --seed 1 \\
        --seconds 10 --trace 0

One invocation builds (or reuses) the workload's seeded input table,
starts a Spark session fitted to the host (``local[nproc]``), runs warm-up
passes, then runs timed passes of the full job for ``--seconds``. Every
timed pass is one op; it fails if ``run()`` raises or if its output check
fails (see checks.py). The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics:

* ``rows_per_s`` — rows validated / wall time of ``run()``, median over
  the timed passes;
* ``setup_s`` — process start to the first timed pass: Spark start,
  opening the input, building the drift baseline and the warm-up
  passes. Input generation is excluded (printed as ``gen_s``);
* ``peak_rss_mb`` — peak resident memory (``VmHWM``) summed over the
  process tree: this driver, the JVM and the Python workers.

``--trace 1`` runs the timed passes inside spans, then one isolated call
into each layer, and reports the per-layer metrics (layers.py). Spans
are written to ``.perfbench/traces/<run id>.jsonl``.

Everything the benchmark writes stays under ``.perfbench/`` in the
checkout: the input cache, Spark's local and temp dirs, job outputs and
traces.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from typing import Dict, List, Optional, Tuple  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: full passes run before timing. Pass walls fall ~1.6-2x from the first
#: to the second pass (JIT, class loading, Python worker start) and more
#: slowly after that (meta_groups on 4 cores: 27.5, 15.0, 15.1, 13.3 s);
#: a second warm-up pass would not fit a run into the time the
#: benchmark's runs share.
WARMUP_PASSES = 1
#: driver JVM heap (local mode: the executors live in it). The largest
#: input, clips_files, holds ~330 MB of payload, which the Python workers
#: read from the files themselves; 2g leaves the rest of a 15 GB host to
#: those workers.
DRIVER_MEMORY = "2g"


@dataclass(frozen=True)
class Workload:
    kind: str                 # inputs.TableSpec kind
    rows: int
    buckets: int
    row_groups: int
    job: Dict = field(default_factory=dict)   # ClipsJobConfig overrides
    drift_baseline: bool = False
    #: layer spans whose work a pass of run() performs, for
    #: runner.unattributed_s
    in_job: Tuple[str, ...] = ()


WORKLOADS = {
    # payload-local decode + SNR is a large share of each pass; one
    # partition group, so the per-group fixed cost is paid once
    "clips_files": Workload(
        kind="clips", rows=3000, buckets=16, row_groups=2,
        job={"decode_source": "files", "group_size": 16},
        drift_baseline=True,
        in_job=("sources.list", "engine.scan", "engine.group",
                "audio.files_decode", "operators.uniqueness",
                "operators.drift", "sinks.write", "sinks.mark")),
    # no payload column and audio off: decode does no work, and the
    # per-group fixed cost (rule compile, plan, observe, sink commit) is
    # paid once per group of the spark-submit default size
    "meta_groups": Workload(
        kind="meta", rows=48_000, buckets=16, row_groups=1,
        job={"audio_check": False, "group_size": 8},
        in_job=("sources.list", "engine.scan", "engine.group",
                "operators.uniqueness", "operators.drift", "sinks.write",
                "sinks.mark")),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def build_session(cores: int):
    from pyspark.sql import SparkSession
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (SparkSession.builder
             .master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.default.parallelism", str(cores))
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir",
                     os.path.join(WORK, "warehouse"))
             .config("spark.ui.enabled", "false")
             # loopback only, whatever the host name resolves to
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every process under it (the
    Python workers) have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = descendants(proc.pid) + [proc.pid] if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if running(p)]
    for pid in alive:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# -- process tree ---------------------------------------------------------------

def running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _ppids() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> List[int]:
    ppid = _ppids()
    kids: Dict[int, List[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and every process below it."""
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# -- one pass -----------------------------------------------------------------

def count_rows(path: str) -> int:
    """Rows in a parquet output dir, read from the file footers."""
    import glob
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows for f in
               glob.glob(os.path.join(path, "**", "*.parquet"),
                         recursive=True))


@dataclass
class Pass:
    wall: float
    rows: int
    problems: List[str]
    counts: Dict[str, int]
    metrics: Dict


def run_pass(job, df, table, out: str,
             previous: Optional[Dict[str, int]]) -> Pass:
    from checks import check_pass, pass_counts
    try:
        t0 = time.perf_counter()
        m = job.run(df, output_root=out, table_root=table.root)
        wall = time.perf_counter() - t0
        persisted = {name: count_rows(os.path.join(out, name))
                     for name in ("violations", "uniqueness_violations")}
    except Exception:  # noqa: BLE001 - a raising run() is a failed op
        traceback.print_exc()
        return Pass(0.0, 0, ["run() raised"], {}, {})
    problems = check_pass(m, persisted, table.expected, previous)
    for p in problems:
        print(f"perfbench: output check failed: {p}", file=sys.stderr)
    return Pass(wall, int(m["rows"]), problems,
                pass_counts(m, persisted), m)


def spark_job_ids(sc) -> set:
    return set(sc.statusTracker().getJobIdsForGroup())


def make_job(spark, wl: Workload, seed: int):
    from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                                  default_codec_dim)
    baseline = None
    if wl.drift_baseline:
        from inputs import clean_metadata
        from jio_spark.operators.drift import snapshot
        from jio_spark.runner import DRIFT_SPECS
        srs, durs = clean_metadata(seed, wl.rows)
        clean = spark.createDataFrame(list(zip(srs, durs)),
                                      "sr_hz int, dur_ms int")
        baseline = snapshot(clean, DRIFT_SPECS)
    return ClipsValidationJob(spark, ClipsJobConfig(**wl.job),
                              codec_dim=default_codec_dim(spark),
                              baseline_snapshot=baseline)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jio_spark", "__init__.py")):
        print("perfbench: no jio_spark package under the current "
              "directory; run from the root of a checkout",
              file=sys.stderr)
        return 2
    # workers import jio_spark from the checkout; pyarrow inside them
    # stays on the core Spark gave the task; temp files stay in WORK
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["JIO_PIN_ARROW_CPU"] = "1"
    # workers run the interpreter this driver runs in, whatever
    # PYSPARK_PYTHON the caller's environment names
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too): temp files in WORK, no hsperfdata;
    # the JVMs start in ROOT, and a relative path survives the option
    # string being split on spaces
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.relpath(tmp, ROOT))
    from inputs import TableSpec, ensure_table
    from spans import Tracer

    wl = WORKLOADS[args.workload]
    cores = nproc()
    load_start = os.getloadavg()[0]
    t_gen = time.perf_counter()
    table = ensure_table(TableSpec(wl.kind, wl.rows, wl.buckets,
                                   wl.row_groups),
                         args.seed, os.path.join(WORK, "cache"),
                         workers=cores)
    gen_wall = time.perf_counter() - t_gen

    run_id = uuid.uuid4().hex[:12]
    out = os.path.join(WORK, "out", run_id)
    marks = {"start": time.perf_counter()}
    spark = build_session(cores)
    marks["session"] = time.perf_counter()
    try:
        df = spark.read.parquet(table.root)
        job = make_job(spark, wl, args.seed)
        marks["open"] = time.perf_counter()
        passes: List[Pass] = []
        previous = None
        for _ in range(WARMUP_PASSES):
            p = run_pass(job, df, table, out, previous)
            passes.append(p)
            previous = p.counts or previous
        warm_failed = sum(1 for p in passes if p.problems)
        setup_s = time.perf_counter() - T_PROCESS - gen_wall

        # with --trace 1 each timed pass runs inside a runner.job span,
        # and the Spark jobs of the last one are counted
        tracer = Tracer(run_id) if args.trace else None
        sc = spark.sparkContext
        timed: List[Pass] = []
        steal_start = steal_s()
        t_window = time.perf_counter()
        while not timed or time.perf_counter() - t_window < args.seconds:
            if tracer is None:
                p = run_pass(job, df, table, out, previous)
            else:
                before = spark_job_ids(sc)
                with tracer.span("runner.job"):
                    p = run_pass(job, df, table, out, previous)
                spark_jobs = len(spark_job_ids(sc) - before)
            timed.append(p)
            previous = p.counts or previous
        peak_rss = tree_peak_rss_mb(os.getpid())
        window_steal = steal_s() - steal_start
        layer_metrics = None
        if tracer is not None:
            if not p.metrics:
                raise RuntimeError("run() raised in the traced pass")
            from layers import traced_layers
            layer_metrics = traced_layers(
                spark, wl, job, df, table, out, tracer, p, spark_jobs,
                trace_dir=os.path.join(WORK, "traces"))
    finally:
        stop_session(spark)
        shutil.rmtree(out, ignore_errors=True)

    report = {
        "workload": args.workload, "seed": args.seed, "run_id": run_id,
        "rows": table.expected["rows"], "gen_s": round(table.gen_s, 3),
        "cores": cores,
        "pass_walls_s": [round(p.wall, 3) for p in timed],
        "pass_phase_s": [p.metrics.get("phase_sec") for p in timed],
        "warmup_walls_s": [round(p.wall, 3) for p in passes],
        "session_s": round(marks["session"] - marks["start"], 3),
        "open_s": round(marks["open"] - marks["session"], 3),
        "load1_start": load_start, "load1_end": os.getloadavg()[0],
        "steal_s_in_window": round(window_steal, 2),
    }
    print("perfbench: " + json.dumps(report))
    good = [p for p in timed if not p.problems]
    failed = len(timed) - len(good) + warm_failed
    if args.trace:
        metrics = layer_metrics
    else:
        metrics = {
            "rows_per_s": {"value": statistics.median(
                [p.rows / p.wall for p in good]) if good else 0.0,
                "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0,
                      "attempted": len(timed) + warm_failed,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
