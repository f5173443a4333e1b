"""Pure-Python Avro container writer (sinks/avro_writer.py) and the
distributed export path (exports.write_avro_distributed).

The decisive check: files written by OUR encoder are read back by the
OFFICIAL Java Avro library (org.apache.avro, already in pyspark's jars)
through py4j — an independent implementation of the spec. If the bytes
were not real Avro, DataFileReader would reject them."""

from __future__ import annotations

import datetime as dt
import io
import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from stellar_etl_airflow_spark.sinks import avro_writer as AW
from stellar_etl_airflow_spark.sinks import exports

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("amount", T.DecimalType(20, 6), True),
        T.StructField("tags", T.ArrayType(T.StringType(), True), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType(), True), True),
    ]
)

ROWS = [
    {
        "id": 1,
        "name": "alpha",
        "score": 1.5,
        "flag": True,
        "ts": dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
        "day": dt.date(2024, 1, 2),
        "amount": Decimal("12345.678900"),
        "tags": ["x", "y"],
        "attrs": {"a": 1, "b": 2},
    },
    {
        "id": 2,
        "name": None,
        "score": None,
        "flag": None,
        "ts": None,
        "day": None,
        "amount": Decimal("-0.000001"),
        "tags": [],
        "attrs": {},
    },
]


def test_python_roundtrip(tmp_path):
    avsc = AW.spark_schema_to_avro(SCHEMA)
    path = str(tmp_path / "t.avro")
    assert AW.write_container(path, avsc, ROWS) == 2
    back_schema, raw = AW.read_container(path)
    assert back_schema == avsc
    rows = [AW.decode_logicals(avsc, r) for r in raw]
    assert rows[0]["ts"] == ROWS[0]["ts"]
    assert rows[0]["day"] == ROWS[0]["day"]
    assert rows[0]["amount"] == ROWS[0]["amount"]
    assert rows[1]["amount"] == ROWS[1]["amount"]
    assert rows[0]["tags"] == ["x", "y"] and rows[0]["attrs"] == {"a": 1, "b": 2}
    assert rows[1]["name"] is None and rows[1]["ts"] is None
    # schema inverse mapping
    assert AW.avro_schema_to_spark(avsc) == SCHEMA


def test_java_avro_reads_our_files(spark, tmp_path):
    """Cross-engine proof: the official Java Avro DataFileReader parses a
    file produced by the Python encoder and sees the same records."""
    avsc = AW.spark_schema_to_avro(SCHEMA)
    path = str(tmp_path / "j.avro")
    AW.write_container(path, avsc, ROWS)

    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        java_schema = json.loads(reader.getSchema().toString())
        assert java_schema["name"] == avsc["name"]
        assert [f["name"] for f in java_schema["fields"]] == [f["name"] for f in avsc["fields"]]
        recs = []
        while reader.hasNext():
            recs.append(reader.next())
        assert len(recs) == 2
        r0 = json.loads(recs[0].toString())
        assert r0["id"] == 1 and r0["name"] == "alpha" and r0["flag"] is True
        assert r0["ts"] == 1704164645678901  # micros since epoch, UTC
        assert r0["tags"] == ["x", "y"] and r0["attrs"] == {"a": 1, "b": 2}
        r1 = json.loads(recs[1].toString())
        assert r1["name"] is None and r1["score"] is None
    finally:
        reader.close()


def test_distributed_avro_write_and_read(spark, tmp_path):
    df = spark.range(0, 1000, 1, 4).selectExpr(
        "id",
        "cast(id % 7 as string) as name",
        "cast(id as double) / 3 as score",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as ts",
    )
    dest = str(tmp_path / "out")
    n = exports.write_avro_distributed(df, dest)
    assert n == 1000
    files = [f for f in os.listdir(dest) if f.endswith(".avro")]
    assert len(files) == 4  # one container file per non-empty partition
    back = exports.read_export(spark, "avro", dest)
    assert back.schema == df.schema
    assert sorted(r["id"] for r in back.collect()) == list(range(1000))
    got = {r["id"]: r for r in back.collect()}
    want = {r["id"]: r for r in df.collect()}
    assert got[123]["ts"] == want[123]["ts"]
    assert got[999]["score"] == want[999]["score"]


def test_export_slice_now_writes_real_avro(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)) for i in range(48)],
        "id long, closed_at timestamp",
    )
    dest = str(tmp_path / "slice")
    fmt = exports.export_slice(
        df, ["id", "closed_at"], "closed_at", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2), dest
    )
    assert fmt == "avro"
    assert any(f.endswith(".avro") for f in os.listdir(dest))
    back = exports.read_export(spark, fmt, dest)
    assert back.count() == 24


def test_empty_export_reads_back_as_empty_frame(spark, tmp_path):
    """A zero-row export must produce a schema-bearing empty container file
    (parity with the DataSource/parquet behavior), not an unreadable dir."""
    df = spark.createDataFrame([], "id long, name string")
    dest = str(tmp_path / "empty")
    assert exports.write_avro_distributed(df, dest) == 0
    back = exports.read_export(spark, "avro", dest)
    assert back.count() == 0
    assert back.schema == df.schema


def test_pre_epoch_timestamp_micros_exact():
    """int(float_ts) truncates toward zero — pre-epoch timestamps with
    sub-second parts must floor, not shift one second late."""
    tz = dt.timezone.utc
    assert AW._to_micros(dt.datetime(1969, 12, 31, 23, 59, 59, 500000, tzinfo=tz)) == -500_000
    assert AW._to_micros(dt.datetime(1969, 12, 31, 23, 59, 59, 500000)) == -500_000
    assert AW._to_micros(dt.datetime(1960, 1, 1, 0, 0, 0, 250000, tzinfo=tz)) == -315_619_199_750_000
    assert AW._to_micros(dt.datetime(2024, 1, 2, 3, 4, 5, 678901)) == 1704164645678901


def test_deflate_codec_roundtrip_and_java_read(spark, tmp_path):
    """Deflate blocks (RFC-1951 raw, per the Avro spec) round-trip through
    our reader AND through the official Java DataFileReader — proof the
    compression framing is spec-correct, not just self-consistent."""
    avsc = AW.spark_schema_to_avro(SCHEMA)
    path = str(tmp_path / "d.avro")
    AW.write_container(path, avsc, ROWS, codec="deflate")
    schema, raw = AW.read_container(path)
    assert schema == avsc and len(raw) == 2
    rows = [AW.decode_logicals(avsc, r) for r in raw]
    assert rows[0]["amount"] == ROWS[0]["amount"] and rows[0]["ts"] == ROWS[0]["ts"]

    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        assert reader.getMetaString("avro.codec") == "deflate"
        recs = []
        while reader.hasNext():
            recs.append(reader.next())
        assert len(recs) == 2
        assert json.loads(recs[0].toString())["name"] == "alpha"
    finally:
        reader.close()


def test_deflate_compresses_repetitive_data(tmp_path):
    avsc = AW.spark_schema_to_avro(
        T.StructType([T.StructField("s", T.StringType(), False)])
    )
    rows = [{"s": "the same string over and over"} for _ in range(2000)]
    raw_p, dfl_p = str(tmp_path / "r.avro"), str(tmp_path / "d.avro")
    AW.write_container(raw_p, avsc, rows, codec="null")
    AW.write_container(dfl_p, avsc, rows, codec="deflate")
    assert os.path.getsize(dfl_p) < os.path.getsize(raw_p) / 10


# ------------------------------------------------------------- column codec

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

CODEC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("n", T.LongType(), True),
        T.StructField("i", T.IntegerType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("f", T.FloatType(), True),
        T.StructField("b", T.BooleanType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("raw", T.BinaryType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("amount", T.DecimalType(20, 6), True),
        T.StructField("tags", T.ArrayType(T.StringType(), True), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType(), True), True),
        T.StructField("rec", T.StructType([T.StructField("a", T.LongType()), T.StructField("z", T.StringType())]), True),
    ]
)
I64 = st.one_of(st.integers(-(2**63), 2**63 - 1), st.sampled_from([-(2**63), 2**63 - 1, -1, 0, 63, 64, -64, -65]))


def _opt(s):
    return st.one_of(st.none(), s)


codec_row = st.fixed_dictionaries(
    {
        "id": I64,
        "n": _opt(I64),
        "i": _opt(st.integers(-(2**31), 2**31 - 1)),
        "d": _opt(st.one_of(st.floats(), st.sampled_from([float("nan"), float("inf"), float("-inf"), -0.0]))),
        "f": _opt(st.floats(width=32)),
        "b": _opt(st.booleans()),
        "s": _opt(st.one_of(st.text(), st.sampled_from(["", "é", "日本語", "\U0001f680"]))),
        "raw": _opt(st.binary(max_size=20)),
        # pre-epoch through far future, microsecond precision
        "ts": _opt(st.datetimes(min_value=dt.datetime(1900, 1, 1), max_value=dt.datetime(2200, 1, 1))),
        "day": _opt(st.dates(min_value=dt.date(1, 1, 1))),
        "amount": _opt(st.decimals(min_value=-(10**13), max_value=10**13, places=6, allow_nan=False)),
        "tags": _opt(st.lists(_opt(st.text(max_size=4)), max_size=3)),
        "attrs": _opt(st.dictionaries(st.text(max_size=3), _opt(I64), max_size=3)),
        "rec": _opt(st.fixed_dictionaries({"a": _opt(I64), "z": _opt(st.text(max_size=4))})),
    }
)


def _row_loop(avsc, batch) -> bytes:
    """The per-value reference encoding: _encode over each row."""
    out = io.BytesIO()
    for r in batch.to_pylist():
        AW._encode(out, avsc, r)
    return out.getvalue()


def _batch(avsc, rows):
    import pyarrow as pa

    return pa.RecordBatch.from_pylist(rows, schema=AW.arrow_schema_for(avsc))


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(codec_row, max_size=25))
def test_column_encoder_matches_row_encoder(rows):
    """Every column kind, nulls and edge values: the column codec's bytes
    equal _encode's, row for row (decimal/array/map/record ride the
    per-value path inside the column codec)."""
    avsc = AW.spark_schema_to_avro(CODEC_SCHEMA)
    batch = _batch(avsc, rows)
    payload, ends = AW.encode_batch(avsc, batch)
    assert payload.tobytes() == _row_loop(avsc, batch)
    assert len(ends) == len(rows)
    # each record's end offset is where the row loop's record ends
    out, want = io.BytesIO(), []
    for r in batch.to_pylist():
        AW._encode(out, avsc, r)
        want.append(out.tell())
    assert ends.tolist() == want


def _sliced_batches(sizes):
    """One batch with nulls, unicode and negative values, and its slices
    of ``sizes`` rows (non-zero buffer offsets included)."""
    import pyarrow as pa

    n = sum(sizes)
    whole = pa.RecordBatch.from_pydict(
        {
            "k": pa.array([(i * 7919) % 1000 - 500 for i in range(n)], pa.int64()),
            "s": pa.array([None if i % 17 == 0 else f"é{i}" * (i % 4) for i in range(n)], pa.string()),
            "x": pa.array([None if i % 13 == 0 else i / 3 for i in range(n)], pa.float64()),
            "ts": pa.array([None if i % 11 == 0 else (i - n // 2) * 1_000_003 for i in range(n)], pa.int64())
            .cast(pa.timestamp("us", tz="UTC")),
        }
    )
    out, at = [], 0
    for m in sizes:
        out.append(whole.slice(at, m))
        at += m
    return whole, out


ARROW_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_blocks_cross_record_limit_and_batch_ends(tmp_path, codec):
    """Blocks hold BLOCK_RECORDS records whatever the Arrow batching: a
    block may start mid-batch and end in a later one. The payloads equal
    the row encoder's bytes for the same rows."""
    avsc = AW.spark_schema_to_avro(ARROW_SCHEMA)
    whole, batches = _sliced_batches([3000, 0, 3000, 5000, 1])
    path = str(tmp_path / "b.avro")
    assert AW.write_container(path, avsc, iter(batches), codec=codec) == 11001
    _, blocks = AW._open_container(path)
    blocks = list(blocks)
    assert [c for c, _ in blocks] == [4096, 4096, 2809]
    assert b"".join(d for _, d in blocks) == _row_loop(avsc, whole)
    assert AW.read_arrow(path).equals(whole)


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_java_avro_reads_column_encoded_files(spark, tmp_path, codec):
    """The official Java DataFileReader parses multi-block files written
    from Arrow batches and sees the same records."""
    avsc = AW.spark_schema_to_avro(ARROW_SCHEMA)
    whole, batches = _sliced_batches([5000, 4000])
    path = str(tmp_path / f"j-{codec}.avro")
    AW.write_container(path, avsc, batches, codec=codec)
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    want = whole.to_pylist()
    try:
        assert reader.getMetaString("avro.codec") == codec
        i = 0
        while reader.hasNext():
            rec = reader.next()
            if i % 997 == 0 or i in (4095, 4096, 8999):
                got = json.loads(rec.toString())
                w = want[i]
                assert got["k"] == w["k"]
                assert got["s"] == w["s"]
                assert got["x"] == w["x"]
                assert got["ts"] == (None if w["ts"] is None else AW._to_micros(w["ts"]))
            i += 1
        assert i == 9000
    finally:
        reader.close()


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(codec_row, max_size=25))
def test_column_decoder_matches_row_decoder(tmp_path_factory, rows):
    """read_arrow gives exactly what the row reader (read_container +
    decode_logicals + from_pylist) gives on the same file."""
    import pyarrow as pa

    avsc = AW.spark_schema_to_avro(CODEC_SCHEMA)
    path = str(tmp_path_factory.mktemp("dec") / "d.avro")
    AW.write_container(path, avsc, [_batch(avsc, rows)], codec="deflate")
    _, raw = AW.read_container(path)
    old = pa.RecordBatch.from_pylist([AW.decode_logicals(avsc, r) for r in raw], schema=AW.arrow_schema_for(avsc))
    new = AW.read_arrow(path)
    assert new.schema == old.schema
    # NaN != NaN: compare the bytes of the float columns, the rest by value
    for name in new.schema.names:
        a, b = new.column(name), old.column(name)
        if name in ("d", "f"):
            assert a.is_null().equals(b.is_null())
            assert a.fill_null(0).to_numpy().tobytes() == b.fill_null(0).to_numpy().tobytes()
        else:
            assert a.equals(b), name


def test_null_in_non_nullable_field_raises_like_row_encoder():
    """The column codec never writes a made-up value for a null the
    schema does not allow: it fails the way _encode does."""
    import pyarrow as pa

    avsc = AW.spark_schema_to_avro(T.StructType([T.StructField("id", T.LongType(), False)]))
    batch = pa.RecordBatch.from_pydict({"id": pa.array([1, None], pa.int64())})
    with pytest.raises(TypeError):
        _row_loop(avsc, batch)
    with pytest.raises(TypeError):
        AW.encode_batch(avsc, batch)
