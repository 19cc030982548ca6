"""Table-schema contract preflight (operators/schema.py): writer-side
renames/re-types/drops must fail on the driver in milliseconds — before
a single task launches against a 10^12-row table — or be recorded as
structured violations in warn mode."""

import pytest

from pyspark.sql import functions as F

from jio_spark.audio.synth import clips_frame
from jio_spark.operators.schema import (CLIPS_SCHEMA_CONTRACT,
                                        assert_schema_contract,
                                        schema_contract_violations)
from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                              default_codec_dim)


def test_clean_clips_match_contract(spark):
    df = clips_frame(spark, 20, clean=True, partitions=2)
    # bucket_id rides along: extras allowed by default
    assert schema_contract_violations(df, CLIPS_SCHEMA_CONTRACT) == []
    assert_schema_contract(df, CLIPS_SCHEMA_CONTRACT)  # no raise


def test_missing_retype_and_extra(spark):
    df = (clips_frame(spark, 20, clean=True, partitions=2)
          .drop("transcript")                       # dropped column
          .withColumn("sr_hz",
                      F.col("sr_hz").cast("long")))  # silent widening
    v = schema_contract_violations(df, CLIPS_SCHEMA_CONTRACT)
    by_name = {x["rule_path"]: x for x in v}
    assert by_name["transcript"]["rule_name"] == "schema_missing"
    assert by_name["sr_hz"]["rule_name"] == "schema_type"
    assert by_name["sr_hz"]["expected"] == "int"
    assert by_name["sr_hz"]["actual"] == "bigint"
    # alias equivalence: a contract saying 'long' matches Spark's
    # 'bigint' simpleString (and 'integer' matches 'int')
    ok = dict(CLIPS_SCHEMA_CONTRACT, sr_hz="long", dur_ms="integer")
    v_alias = schema_contract_violations(
        clips_frame(spark, 5, clean=True, partitions=1)
        .withColumn("sr_hz", F.col("sr_hz").cast("long")), ok)
    assert v_alias == []
    # strict extras: bucket_id is now a break too
    v2 = schema_contract_violations(df, CLIPS_SCHEMA_CONTRACT,
                                    allow_extra=False)
    assert any(x["rule_name"] == "schema_extra"
               and x["rule_path"] == "bucket_id" for x in v2)
    # the raise lists EVERY break, not just the first
    with pytest.raises(ValueError) as e:
        assert_schema_contract(df, CLIPS_SCHEMA_CONTRACT)
    assert "transcript" in str(e.value) and "sr_hz" in str(e.value)


def test_runner_fail_mode_raises_before_any_job(spark):
    df = clips_frame(spark, 20, clean=True, partitions=2) \
        .withColumnRenamed("clip_id", "id")
    job = ClipsValidationJob(
        spark, ClipsJobConfig(schema_contract=CLIPS_SCHEMA_CONTRACT,
                              drift=False, audio_check=False),
        codec_dim=default_codec_dim(spark))
    with pytest.raises(ValueError, match="clip_id"):
        job.run(df)


def test_runner_warn_mode_records_and_continues(spark):
    df = clips_frame(spark, 40, clean=True, partitions=2) \
        .withColumn("dur_ms", F.col("dur_ms").cast("long"))
    job = ClipsValidationJob(
        spark, ClipsJobConfig(schema_contract=CLIPS_SCHEMA_CONTRACT,
                              schema_contract_mode="warn",
                              drift=False, audio_check=False),
        codec_dim=default_codec_dim(spark))
    m = job.run(df)
    assert m["rows"] == 40                       # the job still ran
    sv = m["schema_violations"]
    assert len(sv) == 1 and sv[0]["rule_path"] == "dur_ms"
    assert sv[0]["rule_name"] == "schema_type"


def test_mode_typos_fail_loudly(spark):
    """A typo'd schema_contract_mode must raise, not silently downgrade
    'fail' to 'warn' (review finding); decode_on_corrupt likewise."""
    df = clips_frame(spark, 5, clean=True, partitions=1)
    dim = default_codec_dim(spark)
    with pytest.raises(ValueError, match="schema_contract_mode"):
        bad_mode = ClipsValidationJob(
            spark, ClipsJobConfig(schema_contract=CLIPS_SCHEMA_CONTRACT,
                                  schema_contract_mode="FAIL",
                                  drift=False, audio_check=False),
            codec_dim=dim)
        bad_mode.run(df)
    with pytest.raises(ValueError, match="decode_on_corrupt"):
        bad_corrupt = ClipsValidationJob(
            spark, ClipsJobConfig(decode_on_corrupt="violations",
                                  drift=False, audio_check=False),
            codec_dim=dim)
        bad_corrupt.run(df)


@pytest.mark.parametrize("name, typo", [("decode_source", "File"),
                                        ("table_format", "Parquet"),
                                        ("uniqueness_layout", "Clustered")])
def test_config_typo_fails_at_construction(name, typo):
    """A typo'd mode refuses when the config is built: 'File' or
    'Parquet' must not silently run the Arrow decode and skip the row
    audit, and a bad uniqueness layout must not raise only after every
    group has been scanned and committed."""
    with pytest.raises(ValueError, match=name):
        ClipsJobConfig(**{name: typo})


def test_contract_satisfied_records_empty_list(spark):
    df = clips_frame(spark, 20, clean=True, partitions=2)
    job = ClipsValidationJob(
        spark, ClipsJobConfig(schema_contract=CLIPS_SCHEMA_CONTRACT,
                              drift=False, audio_check=False),
        codec_dim=default_codec_dim(spark))
    m = job.run(df)
    assert m["schema_violations"] == []


def test_driver_casing_oracle_columns_are_ascii():
    """The engine's lowercase/uppercase rules use Go SIMPLE case mapping
    while the driver oracles (`__spark_entry__.oracle_sql`:
    rule_string_normalize, rule_when_priority) replay them with DuckDB's
    FULL-mapping lower()/upper(). The two agree only where full and
    simple mappings coincide — guaranteed on ASCII, violated by ß/İ/ﬁ.
    This pin makes that equivalence load-bearing: if the driver testdata
    ever grows non-ASCII values in the cased columns, this fails loudly
    and the oracle legs must be revisited (Go-exactness itself is pinned
    engine-side in test_conformance_string / functions/casing.py)."""
    import os
    import duckdb
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        base = f"/root/testdata/{sf}"
        if not os.path.isdir(base):
            continue
        for table, col in (("orders", "o_orderpriority"),
                           ("events", "event_type")):
            n = con.execute(
                f"SELECT count(*) FROM '{base}/{table}.parquet' "
                f"WHERE {col} IS NOT NULL AND "
                f"{col} != regexp_replace({col}, '[^\\x00-\\x7F]', '', 'g')"
            ).fetchone()[0]
            assert n == 0, (sf, table, col, n)
