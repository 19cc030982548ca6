"""Payload-local decode: read the `bytes` column straight from parquet
row groups inside the Python workers, bypassing the JVM→Arrow→Python
copy of the payload entirely.

Why: the classic path (scan in the JVM → Arrow batches → mapInPandas)
moves every payload byte across the JVM/Python boundary; measured on the
100k-clip table that boundary saturates around ~1.3 GB/s per node and the
decode stage stops scaling with cores (SURVEY.md §4.2 bandwidth note,
BENCH/BASELINE.md). Shipping only (file, row_group) splits and letting
pyarrow read the column in-process turns the decode into pure worker-local
CPU: storage → Python, one hop. At cluster scale each executor reads from
object storage directly (pyarrow.fs handles s3:// / hdfs:// URIs the same
way).

Trade-off: the payload column must live in a real table (not an ephemeral
DataFrame), and partition-directory values (bucket_id) are recovered from
paths. The DataFrame-based ``decode_check`` remains for arbitrary inputs.
"""

from __future__ import annotations

import glob
import os
import re
import zlib
from typing import Iterator, List, Mapping, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .decode import (DECODE_RESULT_SCHEMA, _decode_batches,
                     _unasserted_results, validate_gates)
from ..sinks.writers import local_frame
from ..sources.tables import _unescape_hive, parse_hive_values

_COLUMNS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]

#: (hive dir value, is_hive_dir) marker distinguishing "file sits under a
#: NULL-partition hive directory" from "file has no hive directory at all"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _strip_scheme(p: str) -> str:
    """Path component of a URI (``s3://bucket/key`` → ``bucket/key``);
    plain paths pass through. Used for RELATIVE-path computations only —
    reads always go through :func:`_open_parquet` with the full URI."""
    return p.split("://", 1)[1] if "://" in p else p


def _uri_under(root: str, inner: str, fs_path: str) -> str:
    """The URI of ``fs_path`` — a path the filesystem of ``root`` listed
    under ``inner``, the path ``from_uri(root)`` resolved to. The root's
    own prefix is kept, so its ``scheme://authority``
    (``hdfs://nn:8020``) survives; ``scheme://`` + the bare filesystem
    path would drop it. A query string (filesystem options) is not
    carried into the file URIs."""
    return (root.split("?", 1)[0].rstrip("/")
            + fs_path[len(inner.rstrip("/")):])


def _open_parquet(path: str):
    """pq.ParquetFile for a plain path OR a filesystem URI: URI paths
    resolve through ``pyarrow.fs.FileSystem.from_uri`` (LocalFileSystem
    for file://, S3FileSystem for s3://, HadoopFileSystem for hdfs:// —
    whatever the pyarrow build supports), so every footer/row-group read
    in this module works identically against object storage. This is
    the worker-side half of the object-store support; the listing half
    is in :func:`_tagged_files`."""
    import pyarrow.parquet as pq
    if "://" in path:
        import pyarrow.fs as pafs
        fs, inner = pafs.FileSystem.from_uri(path)
        return pq.ParquetFile(fs.open_input_file(inner))
    return pq.ParquetFile(path)


def _footer_meta(path: str, cache: Optional[dict]):
    """(num_row_groups, num_rows) from one parquet footer, or the string
    ``'unreadable'`` — never raises. ``cache`` (path → result) lets the
    split listing and the row-integrity audit share ONE footer read per
    file: without it, every surviving file's footer was read twice per
    partition group in two sequential driver loops (on object storage,
    each a remote round-trip)."""
    if cache is not None and path in cache:
        return cache[path]
    import pyarrow as pa
    import pyarrow.parquet as pq
    try:
        md = _open_parquet(path).metadata
        res = (md.num_row_groups, md.num_rows)
    except (OSError, ValueError, pa.ArrowException):
        res = "unreadable"
    if cache is not None:
        cache[path] = res
    return res


def list_row_group_splits(root: str,
                          partition_filter: Optional[Sequence] = None,
                          partition_col: str = "bucket_id",
                          on_corrupt: str = "fail",
                          footer_cache: Optional[dict] = None
                          ) -> List[Tuple[str, int, Optional[int]]]:
    """(path, row_group, partition_value) splits for a parquet table dir.
    Metadata-only: reads footers, not data. ``partition_filter`` prunes
    whole partition directories before any footer is touched.

    Directory values are decoded exactly as the manifest side does
    (sources/tables.py list_partition_values): hive ``%XX`` escapes are
    unescaped so string values like ``a:b`` match the group's wanted set
    (the escaped form ``a%3Ab`` matches nothing — a silent decode skip),
    and a ``__HIVE_DEFAULT_PARTITION__`` directory maps to ``None`` so
    the runner's explicit NULL-partition group member selects it.

    ``on_corrupt='violation'``: a file whose FOOTER cannot be read (at
    10^12-clip scale some files will be damaged) yields a marker split
    ``(path, -1, pval)`` instead of raising here on the driver; the
    decode workers turn markers into structured decode violations so one
    bad file cannot kill the whole job. Default ``'fail'`` raises."""
    if on_corrupt not in ("fail", "violation"):
        # a typo ('violations') must not silently degrade to strict-fail
        raise ValueError("on_corrupt must be 'fail' or 'violation', "
                         f"got {on_corrupt!r}")
    tagged, _ = _tagged_files(root, partition_filter, partition_col)
    out = []
    for path, pval in tagged:
        meta = _footer_meta(path, footer_cache)
        if meta == "unreadable":
            if on_corrupt != "violation":
                raise OSError(f"unreadable parquet footer: {path!r}")
            out.append((path, -1, pval))
            continue
        out.extend((path, rg, pval) for rg in range(meta[0]))
    return out


def _tagged_files(root: str, partition_filter: Optional[Sequence],
                  partition_col: str
                  ) -> Tuple[List[Tuple[str, Optional[int]]], bool]:
    """(surviving (path, partition_value) pairs, layout_is_hive): the
    shared listing/pruning step behind the split lister and the footer
    audit — one place for the hive-unescape / NULL-dir / non-hive
    semantics. Purely a directory listing: no footer is touched."""
    if "://" in root:
        # object-store / URI listing via pyarrow.fs (round 5; previously
        # a documented NotImplementedError): FileSystem.from_uri covers
        # file://, s3://, hdfs://, gcs-over-s3 — whatever the pyarrow
        # build supports. Full URIs are carried as the split paths so
        # the workers re-resolve the same filesystem per read
        # (_open_parquet). An empty listing still refuses loudly below —
        # a typo'd bucket must not "validate" zero rows silently.
        import pyarrow as pa
        import pyarrow.fs as pafs
        try:
            fs, inner = pafs.FileSystem.from_uri(root)
            infos = fs.get_file_info(
                pafs.FileSelector(inner, recursive=True))
        except (OSError, pa.ArrowException) as e:
            # ArrowException: a malformed URI (ArrowInvalid) or a
            # filesystem-level listing error that is not an OSError
            raise FileNotFoundError(
                f"cannot list {root!r}: {e}") from e
        paths = sorted(
            _uri_under(root, inner, i.path) for i in infos
            if i.type == pafs.FileType.File
            and i.path.endswith(".parquet"))
    else:
        paths = sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                                 recursive=True))
    if not paths:
        raise FileNotFoundError(
            f"no *.parquet files under {root!r}: the payload-local "
            f"decode would silently validate zero rows")
    raw_tags: List = []
    any_hive = False
    for path in paths:
        # match against the path RELATIVE to root: an ancestor directory
        # above the table that happens to contain '<col>=value/' (e.g. a
        # table stored under another table's partition dir) must not
        # mis-tag every file. URI schemes are stripped for the relpath
        # arithmetic only (reads keep the full URI).
        rel = os.path.relpath(_strip_scheme(path), _strip_scheme(root))
        m = re.search(rf"(?:^|/){re.escape(partition_col)}=([^/]+)/", rel)
        raw = None
        if m:
            any_hive = True
            raw = m.group(1)
            raw = None if raw == _HIVE_NULL else _unescape_hive(raw)
        raw_tags.append((path, raw))
    # the manifest's parse rule, literally (parse_hive_values is the ONE
    # copy): per-value parsing would tag bucket_id=10 as int 10 while
    # the manifest carries '10' for a mixed string domain — the
    # wanted-set never matches and the partition silently decodes zero
    # files
    parsed = parse_hive_values([r for _, r in raw_tags if r is not None])
    tagged = [(p, None if r is None else parsed[r])
              for p, r in raw_tags]
    # a non-hive layout (e.g. a sort-ordered/clustered table: one dir of
    # range files, partition value carried as a DATA column) cannot be
    # dir-pruned — ignore the filter rather than silently pruning
    # EVERYTHING (pval None matches no wanted set); callers run such
    # tables as one full-table group
    wanted = set(partition_filter) \
        if partition_filter is not None and any_hive else None
    if wanted is not None:
        # match the PARSED dir value first, then the raw string form:
        # a wanted-set built from the DataFrame column (a distinct()
        # over a table read with partition type inference disabled,
        # so the column is string-typed) carries '10' while the dirs
        # parse integral; parsed-only matching silently decoded zero
        # files for every non-NULL partition while the runner marked the
        # groups complete. The MATCHED form is carried as pval so the
        # decode output's partition column equals the real column values.
        out = []
        for (p, pv), (_, raw) in zip(tagged, raw_tags):
            if pv in wanted:
                out.append((p, pv))
            elif raw is not None and raw in wanted:
                out.append((p, raw))
        tagged = out
    return tagged, any_hive


def is_hive_layout(root: str, partition_col: str = "bucket_id") -> bool:
    """Does any parquet file under ``root`` sit in a ``<col>=<value>``
    directory — i.e. can the decode and the footer audit prune it per
    partition group? Answered by the same listing the decode uses, so a
    ``file://`` / ``hdfs://`` / ``s3://`` root counts like a plain path.
    Raises ``FileNotFoundError`` when ``root`` holds no parquet file."""
    return _tagged_files(root, None, partition_col)[1]


def footer_row_counts(root: str,
                      partition_filter: Optional[Sequence] = None,
                      partition_col: str = "bucket_id",
                      footer_cache: Optional[dict] = None
                      ) -> Tuple[int, int]:
    """(readable_rows, unreadable_files) from parquet footers —
    metadata-only, same directory pruning as ``list_row_group_splits``,
    ONE footer read per surviving file.

    The scan-vs-footer integrity baseline: a Spark scan running with
    ``spark.sql.files.ignoreCorruptFiles`` silently DROPS files it cannot
    read, so a job can "succeed" over less data than the table holds.
    Comparing observed scan rows against this footer total (runner
    ``row_integrity``) turns that silent loss into an explicit flag.
    Files whose footer cannot be read — damaged, or deleted between the
    listing and this read by concurrent compaction/retention — can't be
    counted; they are reported in the second element (never raised: this
    is the damage AUDIT, it must survive what it audits) so the caller
    knows the expected total is a lower bound.

    ``footer_cache``: share the per-file footer reads with a preceding
    ``list_row_group_splits`` call over the same listing (the runner
    passes one dict per partition group) — one footer read per file
    instead of two."""
    tagged, _ = _tagged_files(root, partition_filter, partition_col)
    total, unreadable = 0, 0
    for path, _pv in tagged:
        meta = _footer_meta(path, footer_cache)
        if meta == "unreadable":
            unreadable += 1
        else:
            total += meta[1]
    return total, unreadable


def _partition_dtype(splits: Sequence[Tuple[str, int, Optional[int]]],
                     partition_col: str) -> str:
    """Spark SQL type for the partition column carried through the decode.
    Hive dir values type it directly; an all-None split list (non-hive
    layout: the value lives as a DATA column) peeks at one footer."""
    pvals = {pv for _, _, pv in splits if pv is not None}
    if pvals:
        # Spark's own Integer→Long→Decimal inference ladder, mirrored:
        # parse_hive_values produces full int64 ints (and Decimal beyond
        # ±2^63), so a flat 32-bit 'int' made createDataFrame fail
        # schema verification for a legitimate bucket_id=2147483648 dir;
        # a flat 'bigint' would widen the common small-bucket case away
        # from the table read's int32 column
        from decimal import Decimal
        if any(isinstance(v, str) for v in pvals):
            return "string"
        if any(isinstance(v, Decimal) for v in pvals):
            return "decimal(38,0)"
        if all(-(1 << 31) <= v < (1 << 31) for v in pvals):
            return "int"
        return "bigint"
    # peek the first READABLE footer (corrupt-marker splits have rg < 0
    # and an unreadable footer by definition). The peek itself is
    # guarded: in violation mode a file deleted/damaged between the
    # listing and this driver-side read must not kill the job the mode
    # exists to protect — try the next split instead
    import pyarrow as pa
    for path, rg, _ in splits:
        if rg < 0:
            continue
        try:
            sch = _open_parquet(path).schema_arrow
        except (OSError, ValueError, pa.ArrowException):
            continue
        if partition_col in sch.names:
            t = sch.field(partition_col).type
            if pa.types.is_string(t) or pa.types.is_large_string(t):
                return "string"
            if pa.types.is_decimal(t):
                return f"decimal({t.precision},{t.scale})"
            if pa.types.is_int64(t) or pa.types.is_uint32(t):
                # a bigint DATA column peeked from the footer must not
                # be narrowed to int32 (large values would overflow the
                # Arrow output cast mid-decode)
                return "bigint"
        break
    return "int"


def _corrupt_frame(clip_marker: str, msg: str, pval,
                   partition_col: str,
                   codec_passthrough: bool = False) -> pd.DataFrame:
    """One decode-result row attributing an unreadable file/row group:
    the decode's not-asserted row (only ``decode_ok`` failed), so
    ``decode_violations`` emits exactly ONE violation per corrupt unit,
    not six."""
    out = {"clip_id": [clip_marker], **_unasserted_results(1),
           partition_col: [pval]}
    out["error"][0] = msg
    if codec_passthrough:
        # per-codec-gate runs carry codec through the results schema;
        # an unreadable unit has no codec to report
        out["codec"] = np.array([None], dtype=object)
    return pd.DataFrame(out)


def split_frame(spark: SparkSession, splits: Sequence[Tuple],
                n_tasks: int, partition_col: str, ptype: str) -> DataFrame:
    """The ``(path, rg, partition value)`` splits as a frame of
    ``n_tasks`` partitions, task ``k`` holding the ``k``-th contiguous
    run of ``splits`` (runs differ in length by at most one).
    ``spark.range`` fixes each split index's task, and a broadcast of the
    split rows (a ``LocalRelation``) supplies its values: the join keeps
    the range's partitioning, no Python RDD job runs, and the split list
    stays out of any task closure."""
    rows = local_frame(
        spark, [(i, *s) for i, s in enumerate(splits)],
        f"split bigint, path string, rg int, {partition_col} {ptype}")
    return (spark.range(len(splits), numPartitions=n_tasks)
            .join(F.broadcast(rows), F.col("id") == F.col("split"))
            .select("path", "rg", partition_col))


def decode_check_files(spark: SparkSession, root: str,
                       check_reference: bool = True,
                       snr_threshold=30.0,
                       dur_tolerance_ms: int = 2,
                       tasks_per_cpu: int = 8,
                       partition_filter: Optional[Sequence] = None,
                       partition_col: str = "bucket_id",
                       on_corrupt: str = "fail",
                       footer_cache: Optional[dict] = None) -> DataFrame:
    """Decode-and-check over a parquet clips table, payload-local.

    Splits are deterministically shuffled (hash order) before they are
    packed into tasks in contiguous runs (:func:`split_frame`), so
    file-size skew spreads evenly — the payload-local analog of the salted
    repartition, without moving a single payload byte.

    ``on_corrupt='violation'``: an unreadable file or row group (damaged
    footer, corrupt data pages) becomes ONE structured decode-violation
    row — ``clip_id='__corrupt__:<relpath>#rg<N>'``, ``error`` carrying
    the reader's message — instead of failing the task and with it the
    whole job. At 10^12 clips the expected number of damaged files is
    not zero; pair with ``spark.sql.files.ignoreCorruptFiles`` on the
    JVM rule-scan side plus the runner's footer-vs-scan ``row_integrity``
    check, which turns that setting's silent row loss into an explicit
    metric. Default ``'fail'`` keeps strict semantics."""
    validate_gates(snr_threshold)
    splits = list_row_group_splits(root, partition_filter, partition_col,
                                   on_corrupt=on_corrupt,
                                   footer_cache=footer_cache)
    # crc32, NOT builtin hash(): str hashing is PYTHONHASHSEED-random
    # per driver process, which would scramble the split→task packing
    # across runs and break bench comparability ("deterministically
    # shuffled" must mean it)
    splits = sorted(splits, key=lambda s: zlib.crc32(
        f"{s[0]}#{s[1]}".encode()))
    n_tasks = max(1, min(len(splits),
                         spark.sparkContext.defaultParallelism
                         * tasks_per_cpu))
    ptype = _partition_dtype(splits, partition_col)
    sdf = split_frame(spark, splits, n_tasks, partition_col, ptype)

    # per-codec SNR gates: carry codec into the results so the snr
    # violation's expected text can name that codec's own bound. A table
    # PARTITIONED BY codec already carries the column as its partition
    # tag — adding it again would emit a duplicate column and break the
    # Arrow schema mid-job (decode.py's dict.fromkeys dedup, mirrored)
    codec_pass = (isinstance(snr_threshold, Mapping)
                  and partition_col != "codec")
    inner = _decode_batches(
        check_reference, snr_threshold, dur_tolerance_ms,
        passthrough=[partition_col] + (["codec"] if codec_pass else []))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os
        import pyarrow as pa
        # use_threads=False on read_row_group already keeps THIS read on
        # one core; the process-global clamp below additionally stops
        # pyarrow's implicit cpu_count thread pool from borrowing cores
        # in reused workers during fixed-core scaling measurements. It is
        # opt-in (env flag) because it would persist in the reused worker
        # and silently single-thread unrelated pyarrow work.
        if _os.environ.get("JIO_PIN_ARROW_CPU") == "1":
            pa.set_cpu_count(1)
        for pdf in batches:
            for path, rg, pval in zip(pdf["path"], pdf["rg"],
                                      pdf[partition_col]):
                rel = os.path.relpath(_strip_scheme(path),
                                      _strip_scheme(root))
                if int(rg) < 0:
                    # driver-side footer marker (listing ran with
                    # on_corrupt='violation')
                    yield _corrupt_frame(
                        f"__corrupt__:{rel}#footer",
                        "unreadable parquet footer", pval, partition_col,
                        codec_pass)
                    continue
                try:
                    pf = _open_parquet(path)
                    cols = list(_COLUMNS)
                    if not check_reference:
                        # mirror decode_check: only the reference check
                        # reads transcripts — metadata-only tables
                        # without the column must still decode
                        cols.remove("transcript")
                    # non-hive layouts carry the partition value as a
                    # data column inside the file — read it instead of
                    # the (absent) directory value
                    col_backed = (pd.isna(pval) and partition_col
                                  in pf.schema_arrow.names)
                    if col_backed and partition_col not in cols:
                        cols.append(partition_col)
                    elif not col_backed and partition_col in cols:
                        # hive layout partitioned BY a decode input
                        # column (e.g. codec): partitionBy moved it out
                        # of the data files into the directory name —
                        # demanding it from the file would fail every
                        # row group; the dir value is written back into
                        # the block below
                        cols.remove(partition_col)
                    tbl = pf.read_row_group(int(rg), columns=cols,
                                            use_threads=False)
                    # pyarrow silently DROPS requested columns missing
                    # from the file — a schema-drifted writer would
                    # otherwise surface as a raw KeyError inside the
                    # decode, outside this try, killing the job even in
                    # violation mode
                    missing = [c for c in cols
                               if c not in tbl.schema.names]
                    if missing:
                        raise ValueError(
                            f"file missing required columns {missing}")
                    block = tbl.to_pandas()
                except (OSError, ValueError, pa.ArrowException) as e:
                    if on_corrupt != "violation":
                        raise
                    yield _corrupt_frame(
                        f"__corrupt__:{rel}#rg{int(rg)}",
                        f"unreadable row group: {e}", pval, partition_col,
                        codec_pass)
                    continue
                if not col_backed:
                    block[partition_col] = pval
                yield from inner(iter([block]))

    schema = DECODE_RESULT_SCHEMA + f", {partition_col} {ptype}"
    if codec_pass:
        schema += ", codec string"
    return sdf.mapInPandas(run, schema)
