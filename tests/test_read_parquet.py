"""read_parquet takes a single file's schema from its footer: no Spark job.

For every file here ``read_parquet(p)`` must give exactly the schema
Spark's own inference (``spark.read.parquet(p)``) gives, run no Spark job
in its job group, and cost at most 20 py4j calls.  Column types outside
the footer mapping (lists of lists, structs, maps, uint64), files Spark
wrote and directories still go through Spark's inference and must read as
before.  TIMESTAMP(NANOS) files read as TimestampNTZ; INT96 files as
TIMESTAMP.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import itertools

import pytest

_groups = itertools.count()

TS = [dt.datetime(2020, 1, 1, 1, 2, 3, 456789), None, dt.datetime(1960, 6, 1)]


def _arrow_cases():
    """name -> (pyarrow array, write_table keyword arguments)."""
    import pyarrow as pa

    return {
        "int8": (pa.array([1, None, -3], pa.int8()), {}),
        "int16": (pa.array([1, None, -3], pa.int16()), {}),
        "int32": (pa.array([1, None, -3], pa.int32()), {}),
        "int64": (pa.array([1, None, -3], pa.int64()), {}),
        "float": (pa.array([1.5, None, -3.0], pa.float32()), {}),
        "double": (pa.array([1.5, None, float("nan")], pa.float64()), {}),
        "bool": (pa.array([True, None, False]), {}),
        "string": (pa.array(["a", None, ""]), {}),
        "large_string": (pa.array(["a", None, ""], pa.large_string()), {}),
        "dictionary_string": (pa.array(["a", None, "a"]).dictionary_encode(), {}),
        "binary": (pa.array([b"\x01", None, b""]), {}),
        "date": (pa.array([dt.date(2020, 1, 2), None, dt.date(1900, 1, 1)]), {}),
        "decimal_flba": (
            pa.array([decimal.Decimal("1.25"), None, decimal.Decimal("-7.50")],
                     pa.decimal128(20, 2)),
            {},
        ),
        "ts_millis_utc": (pa.array(TS, pa.timestamp("ms", tz="UTC")), {}),
        "ts_millis_local": (pa.array(TS, pa.timestamp("ms")), {}),
        "ts_micros_utc": (pa.array(TS, pa.timestamp("us", tz="UTC")), {}),
        "ts_micros_local": (pa.array(TS, pa.timestamp("us")), {}),
        "int96": (pa.array(TS, pa.timestamp("ns")), {"use_deprecated_int96_timestamps": True}),
        "list_double": (pa.array([[1.5, None], None, []], pa.list_(pa.float64())), {}),
        "list_string": (pa.array([["a"], None, []]), {}),
    }


# column types the footer mapping leaves to Spark's inference
_UNMAPPED = {
    "list_of_list": lambda pa: pa.array([[[1]], None, []]),
    "struct": lambda pa: pa.array([{"a": 1, "b": "x"}, None, {"a": None, "b": None}]),
    "map": lambda pa: pa.array([[("k", 1)], None, []], pa.map_(pa.string(), pa.int64())),
    "uint64": lambda pa: pa.array([1, None, 2**64 - 1], pa.uint64()),
}


@pytest.fixture(scope="module")
def files(spark, tmp_path_factory):
    """name -> path of a single-file parquet for every mapped case."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("footer")
    out = {}
    for name, (arr, kw) in _arrow_cases().items():
        out[name] = str(d / f"{name}.parquet")
        pq.write_table(pa.table({"id": pa.array([0, 1, 2]), "c": arr}), out[name], **kw)
    # pyarrow stores every decimal as FIXED_LEN_BYTE_ARRAY; DuckDB stores
    # DECIMAL(p <= 9) as INT32 and DECIMAL(p <= 18) as INT64
    for name, typ in (("decimal_int32", "DECIMAL(9,2)"), ("decimal_int64", "DECIMAL(18,3)")):
        out[name] = str(d / f"{name}.parquet")
        duckdb.sql(
            f"COPY (SELECT * FROM (VALUES (1.25::{typ}), (NULL), (-7.5::{typ})) v(c)) "
            f"TO '{out[name]}' (FORMAT parquet)"
        )
    spark_dir = str(d / "spark_dir")
    spark.sql(
        "SELECT id, CAST(id AS STRING) s, CAST(id AS DECIMAL(7, 2)) dec, "
        "TIMESTAMP'2020-01-01 00:00:00' ts, TIMESTAMP_NTZ'2020-01-01 00:00:00' ntz, "
        "array(id) arr, named_struct('a', id) st FROM range(3)"
    ).coalesce(1).write.parquet(spark_dir)
    out["spark_written"] = glob.glob(f"{spark_dir}/part-*.parquet")[0]
    return out


def _read_counted(spark, con, count_py4j, path):
    """(table, jobs run, py4j calls) of one read_parquet."""
    sc = spark.sparkContext
    group = f"read-parquet-{next(_groups)}"
    sc.setJobGroup(group, path)
    try:
        with count_py4j() as n:
            t = con.read_parquet(path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return t, len(sc.statusTracker().getJobIdsForGroup(group)), n["calls"]


def _assert_footer_read(spark, con, count_py4j, path):
    t, jobs, calls = _read_counted(spark, con, count_py4j, path)
    assert t.to_spark().schema == spark.read.parquet(path).schema
    assert jobs == 0
    assert calls <= 20
    return t


def test_testdata_schema_from_footer(spark, con, count_py4j, sf_dir):
    paths = sorted(glob.glob(f"{sf_dir}/*.parquet"))
    assert paths
    for path in paths:
        _assert_footer_read(spark, con, count_py4j, path)


@pytest.mark.parametrize(
    "name", sorted([*_arrow_cases(), "decimal_int32", "decimal_int64"])
)
def test_mapped_type_schema_from_footer(spark, con, count_py4j, files, name):
    t = _assert_footer_read(spark, con, count_py4j, files[name])
    # the supplied schema reads the same rows as inference does
    assert sorted(map(repr, t.to_spark().collect())) == sorted(
        map(repr, spark.read.parquet(files[name]).collect())
    )


@pytest.mark.parametrize(
    "conf, value, names",
    [
        ("binaryAsString", "true", ["binary", "string"]),
        ("inferTimestampNTZ.enabled", "false", ["ts_millis_local", "ts_micros_local",
                                               "ts_micros_utc"]),
    ],
)
def test_footer_schema_honours_session_settings(spark, con, count_py4j, files, conf, value, names):
    key = f"spark.sql.parquet.{conf}"
    spark.conf.set(key, value)
    try:
        for name in names:
            _assert_footer_read(spark, con, count_py4j, files[name])
    finally:
        spark.conf.unset(key)


def test_int96_off_keeps_sparks_error(spark, con, files):
    """With ``int96AsTimestamp`` off Spark refuses INT96; the footer path
    leaves that to inference, so the refusal stays Spark's own."""
    spark.conf.set("spark.sql.parquet.int96AsTimestamp", "false")
    try:
        with pytest.raises(Exception, match="INT96"):
            con.read_parquet(files["int96"])
    finally:
        spark.conf.unset("spark.sql.parquet.int96AsTimestamp")


@pytest.mark.parametrize("name", sorted(_UNMAPPED))
def test_unmapped_types_read_through_inference(spark, con, count_py4j, tmp_path, name):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table({"id": pa.array([0, 1, 2]), "c": _UNMAPPED[name](pa)}), path)
    t, jobs, _ = _read_counted(spark, con, count_py4j, path)
    assert jobs >= 1  # Spark inferred the schema
    ref = spark.read.parquet(path)
    assert t.to_spark().schema == ref.schema
    assert sorted(map(repr, t.to_spark().collect())) == sorted(map(repr, ref.collect()))


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_spark_written_file_reads_through_inference(spark, con, count_py4j, files, ntz):
    """A file Spark wrote carries Spark's schema in its footer; Spark's
    inference returns that schema, so read_parquet leaves it to Spark."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, ntz)
    try:
        path = files["spark_written"]
        t, jobs, _ = _read_counted(spark, con, count_py4j, path)
        assert jobs >= 1
        ref = spark.read.parquet(path)
        assert t.to_spark().schema == ref.schema
        assert sorted(map(repr, t.to_spark().collect())) == sorted(map(repr, ref.collect()))
    finally:
        spark.conf.unset(key)


def test_directory_reads_through_inference(spark, con, count_py4j, files, tmp_path):
    import shutil

    d = tmp_path / "dir"
    d.mkdir()
    for i in range(2):
        shutil.copy(files["int64"], d / f"part-{i}.parquet")
    t, jobs, _ = _read_counted(spark, con, count_py4j, str(d))
    assert jobs >= 1
    assert t.to_spark().schema == spark.read.parquet(str(d)).schema
    assert t.to_spark().count() == 6


def test_nanos_timestamp_reads_as_ntz(spark, con, tmp_path):
    """pyarrow writes ``timestamp("ns")`` as INT64 TIMESTAMP(NANOS), which
    Spark alone refuses (PARQUET_TYPE_ILLEGAL); read_parquet rebuilds it
    as TimestampNTZ, floored to the microsecond.  The raw read needs the
    legacy ``nanosAsLong`` conf whenever the plan runs, so the read leaves
    it set on the session."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as st

    path = str(tmp_path / "nanos.parquet")
    ns = pa.array([1577840523456789123, None, -300_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": pa.array([0, 1, 2]), "t": ns}), path)
    assert pq.ParquetFile(path).schema.column(1).physical_type == "INT64"
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        df = con.read_parquet(path).to_spark()
        assert isinstance(df.schema["t"].dataType, st.TimestampNTZType)
        got = {r.id: r.s for r in df.selectExpr("id", "CAST(t AS STRING) s").collect()}
        assert got == {
            0: "2020-01-01 01:02:03.456789", 1: None, 2: "1969-12-31 23:54:59.999999"
        }
        # session-wide: a plain Spark read of the file now gives bigint
        assert spark.conf.get(key) == "true"
        assert isinstance(spark.read.parquet(path).schema["t"].dataType, st.LongType)
    finally:
        spark.conf.unset(key)


def test_int96_timestamp_reads_as_timestamp(spark, con, files):
    import pyarrow.parquet as pq
    from pyspark.sql import types as st

    path = files["int96"]
    assert pq.ParquetFile(path).schema.column(1).physical_type == "INT96"
    df = con.read_parquet(path).to_spark()
    assert isinstance(df.schema["c"].dataType, st.TimestampType)
    got = {r.id: r.s for r in df.selectExpr("id", "CAST(c AS STRING) s").collect()}
    assert got == {0: "2020-01-01 01:02:03.456789", 1: None, 2: "1960-06-01 00:00:00"}
