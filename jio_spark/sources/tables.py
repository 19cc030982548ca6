"""Source adapter: the engine targets Iceberg tables (north_rule), but the
sandbox Spark install carries no Iceberg jars (SURVEY.md §7 — verified
0/287 jars), so partitioned Parquet is the local stand-in. The adapter
keeps the switch to ``format("iceberg")`` one line, preserving predicate
pushdown and partition pruning either way."""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class TableAdapter:
    """``fmt='parquet'`` reads a path; ``fmt='iceberg'`` reads a catalog
    table name. Partition column defaults to the clips layout
    (FIXTURES.md §1: bucket_id)."""

    fmt: str = "parquet"
    partition_col: str = "bucket_id"

    def read(self, spark: SparkSession, location: str) -> DataFrame:
        if self.fmt == "iceberg":
            return spark.read.format("iceberg").load(location)
        return spark.read.parquet(location)

    def write(self, df: DataFrame, location: str,
              mode: str = "overwrite") -> None:
        w = df.write.mode(mode)
        if self.partition_col and self.partition_col in df.columns:
            w = w.partitionBy(self.partition_col)
        if self.fmt == "iceberg":
            w.format("iceberg").saveAsTable(location)
        else:
            w.parquet(location)

    def partitions(self, spark: SparkSession, location: str) -> List:
        """Distinct partition values — drives the checkpoint manifest.
        Metadata-only: filesystem listing for parquet, the ``.partitions``
        metadata table for Iceberg; the ``distinct()`` table scan is only
        the last-resort fallback for unpartitioned layouts (at 10^12 rows
        that scan is a full job — never the default)."""
        vals = list_partition_values(spark, location, self.partition_col,
                                     self.fmt)
        if vals:
            return vals
        df = self.read(spark, location)
        raw = [r[0] for r in
               df.select(self.partition_col).distinct().collect()]
        return none_last_sorted(raw)


def list_partition_values(spark: SparkSession, location: str,
                          partition_col: str,
                          fmt: str = "parquet") -> List:
    """Partition values WITHOUT scanning any data.

    * parquet: ONE filesystem listing of ``<location>/<col>=<value>``
      directories through the Hadoop FileSystem API (same listing the
      DataSource's file index performs; works for local paths, HDFS and
      s3a alike) — no Spark job is launched at all.
    * iceberg: the table's ``.partitions`` metadata table (manifest
      read, no data files touched).

    Hive directory names are strings; integral-looking values are parsed
    back to int so they compare equal to the column values in
    ``isin`` partition-pruning filters. A NULL partition (a
    ``__HIVE_DEFAULT_PARTITION__`` directory, a null ``.partitions``
    entry) is a trailing ``None`` member (:func:`none_last_sorted`).
    Returns ``[]`` when the layout isn't partitioned by
    ``partition_col`` (callers fall back)."""
    if fmt == "iceberg":
        try:
            meta = spark.read.format("iceberg") \
                .load(f"{location}.partitions")
            return none_last_sorted(
                [r[0] for r in
                 meta.select(f"partition.{partition_col}").collect()])
        except Exception:
            # unpartitioned / differently-partitioned table: the
            # .partitions schema has no such field — degrade to the
            # caller's scan fallback like the parquet path does
            return []
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    prefix = f"{partition_col}="
    raw_vals: List[str] = []
    has_null = False
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            raw = name[len(prefix):]
            if raw == "__HIVE_DEFAULT_PARTITION__":
                has_null = True
            else:
                raw_vals.append(_unescape_hive(raw))
    vals = list(parse_hive_values(raw_vals).values())
    return none_last_sorted(vals + [None] if has_null else vals)


_HIVE_INT = re.compile(r"[+-]?[0-9]+", re.ASCII)


def _parse_hive_int(v: str):
    """Parse one hive directory value as an integer with JAVA semantics,
    not Python's. ``int()`` accepts underscores, surrounding whitespace,
    trailing newlines and arbitrary magnitude — ``int('1_0') == 10``,
    ``int('5\\n') == 5`` — while Spark's partition type inference
    (``Long.parseLong``) rejects all of those and keeps the column
    string-typed. A Python-only parse would build an int wanted-set that
    matches NOTHING in the string column's ``isin`` filter: every
    partition validates zero rows yet is marked complete, the silent
    skip this module exists to prevent. Accepted: optional sign then
    ASCII digits (``fullmatch``, so '5\\n' is rejected like Java does);
    within int64 → int, beyond ±2^63 → ``decimal.Decimal``, mirroring
    Spark's Long→BigDecimal inference order (such dirs type the column
    decimal(p,0), and a string in the wanted-set would cross-match
    distinct >2^63 values through lossy double coercion)."""
    if not _HIVE_INT.fullmatch(v):
        raise ValueError(v)
    n = int(v)
    if not (-(1 << 63) <= n < (1 << 63)):
        from decimal import Decimal
        return Decimal(v)
    return n


def parse_hive_values(vals: List[str]) -> Dict[str, object]:
    """All-or-nothing integer parse of hive directory values
    ({raw: parsed}): ints (Decimal beyond int64, matching Spark's
    decimal(p,0) inference) only when EVERY value parses, else all stay
    strings — a mixed numeric/str domain would neither sort nor compare
    equal to the column. THE one copy of this rule: the manifest's
    ``list_partition_values`` and the decoder's
    ``audio.files._tagged_files`` both call it, so the wanted-set and
    the file tags can never drift apart (a drift means a partition
    silently decodes zero files)."""
    try:
        return {v: _parse_hive_int(v) for v in vals}
    except ValueError:
        return {v: v for v in vals}


def check_partition_value_types(parts: List, dtype) -> None:
    """Refuse, loudly and at plan time, a wanted-set whose Python types
    cannot ``isin``-match the partition column's Spark type — the silent
    failure shape is every partition validating zero rows while being
    marked complete. Accepts int↔integral/decimal(p,0), Decimal↔decimal,
    str↔string (None members ride a separate isNull filter). Anything
    else — a date/double/timestamp-typed partition column (Spark infers
    those from dir names; this engine's integer parse deliberately does
    not), or a string column whose dirs all LOOK integral (partition
    type inference disabled) — raises with both sides named."""
    vals = [p for p in parts if p is not None]
    if not vals:
        return
    from decimal import Decimal as _Dec
    ok = False
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
        ok = all(isinstance(v, int) for v in vals)
    elif isinstance(dtype, T.DecimalType) and dtype.scale == 0:
        ok = all(isinstance(v, (int, _Dec)) for v in vals)
    elif isinstance(dtype, T.StringType):
        ok = all(isinstance(v, str) for v in vals)
    if not ok:
        raise ValueError(
            f"partition wanted-set types {sorted({type(v).__name__ for v in vals})} "
            f"cannot isin-match the partition column's Spark type "
            f"{dtype.simpleString()}: the filter would select zero rows "
            f"and every group would be marked complete over nothing. "
            f"Use an integer- or string-typed partition column, or make "
            f"Spark's partition type inference agree with the directory "
            f"values.")


def none_last_sorted(raw: List) -> List:
    """Distinct partition values sorted with an explicit trailing None.
    THE one copy of the NULL-partition convention (NULL can't sort
    against ints/strings, and ``isin`` never matches NULL, so None rides
    as an explicit last member whose row filter is ``isNull()``): the
    hive and Iceberg listings, ``TableAdapter.partitions``' scan and the
    runner's in-memory-frame fallback all ride this, so no discovery
    path can order or drop the NULL partition differently."""
    out = sorted(v for v in raw if v is not None)
    if any(v is None for v in raw):
        out.append(None)
    return out


def iceberg_partition_row_counts(spark: SparkSession, location: str,
                                 partition_col: str):
    """{partition_value: record_count} from the Iceberg ``.partitions``
    metadata table — manifest read, no data files touched. ``None`` when
    the metadata table is unavailable or not partitioned by
    ``partition_col`` (callers skip the audit rather than guess).

    This is the Iceberg analog of the parquet footer audit
    (audio/files.py footer_row_counts): snapshot isolation makes the
    manifest count the committed truth for the scanned snapshot, so an
    observed-scan count that disagrees means the scan dropped data
    (ignoreCorruptFiles) or read a different snapshot mid-run — either
    way a flag, not a quietly-smaller success."""
    try:
        meta = spark.read.format("iceberg").load(f"{location}.partitions")
        rows = meta.select(
            F.col(f"partition.{partition_col}").alias("p"),
            F.col("record_count").alias("n")).collect()
        return {r["p"]: int(r["n"]) for r in rows}
    except Exception:
        return None


def _unescape_hive(name: str) -> str:
    """Invert Hive/Spark partition-path escaping (ExternalCatalogUtils.
    escapePathName percent-encodes space, ':', '%', '/', control chars …
    as ``%XX``). Without this, a string partition value containing such a
    character lists as its ESCAPED form, never matches the real column
    value in the manifest's ``isin`` pruning filter, and that partition
    would validate zero rows yet be marked complete — a silent skip.
    ``urllib.parse.unquote`` decodes well-formed ``%XX`` (incl.
    multi-byte UTF-8 runs), passes malformed sequences and stray '%'
    through verbatim, and leaves '+' alone — but its default
    ``errors='replace'`` would turn an invalid-UTF-8 escape run (e.g. a
    lone ``%FF``) into U+FFFD, a value that matches NOTHING in the
    ``isin`` filter (the silent-skip failure again). Strict decoding
    with a verbatim fallback keeps such names matchable when the '%'
    was literal data."""
    if "%" not in name:
        return name
    from urllib.parse import unquote
    try:
        return unquote(name, errors="strict")
    except UnicodeDecodeError:
        return name


def read_table(spark: SparkSession, location: str,
               fmt: str = "parquet") -> DataFrame:
    return TableAdapter(fmt=fmt).read(spark, location)
