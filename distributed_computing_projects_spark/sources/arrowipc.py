"""Arrow IPC source — the interchange format data tooling hands off
in-memory tables as (Feather v2 IS the Arrow IPC file format; pandas/
polars `to_feather`, DuckDB `COPY ... (FORMAT ...)`, Arrow Flight
dumps), and a format THIS Spark cannot read natively (no `arrow`
datasource; verified). Unlike the avro/zip walks there is no need for
a from-scratch parser: ``pyarrow`` — the format's reference
implementation — is baked into the workers, so the idiomatic reader
is pyarrow inside ``mapInArrow``, decoded batches handed straight
back; this module adds the
engine's seam discipline around it:

- BOTH framings route through one walker: the FILE format
  (``ARROW1`` magic + footer, what ``.arrow``/``.feather`` ship) and
  the bare STREAM format (what pipes/Flight produce);
- the torn-tail policy mirrors the zip walk structurally: the file
  format's source of truth is a FOOTER at the archive END (like the
  zip central directory), so a torn upload loses it — the walker
  falls back to reading the embedded message stream front-to-back
  (the file body after the 8-byte magic+padding IS stream-framed),
  keeping every complete record batch before the tear;
- drops are batch-granular: a batch whose decoded row count or byte
  size exceeds the bomb bounds drops with everything after it
  (offsets untrustable), a torn/corrupt message ends the walk, a
  payload that is neither framing drops the row;
- schema adaptation is reader-driven like the avro source: the
  caller's expected columns select by NAME (extra writer columns are
  discarded, missing ones null), so one scan spans shard
  generations.

Scale shape: binaryFile scan, per-file parallelism (the gzip/WARC
model), bounded batch decode — and the same convert-once discipline
as Avro (`sources/avro.py:41-46`) for repeated analytics.

Reference parity note: extension surface (the reference reads plain
text/CSV only, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

MAGIC = b"ARROW1"
MAX_BATCH_ROWS = 1 << 22
MAX_BATCH_BYTES = 1 << 28  # 256 MiB decoded per batch, the walk bound


def iter_batches(data: bytes):
    """Record batches from one Arrow IPC payload (file OR stream
    framing), bomb-bounded, keeping complete batches before a torn
    tail. Yields nothing when not even the schema parses."""
    import pyarrow as pa

    def stream_batches(buf):
        try:
            reader = pa.ipc.open_stream(buf)
        except Exception:
            return
        while True:
            try:
                batch = reader.read_next_batch()
            except StopIteration:
                return
            except Exception:
                return  # torn/corrupt message: complete batches kept
            if batch.num_rows > MAX_BATCH_ROWS \
                    or batch.nbytes > MAX_BATCH_BYTES:
                return  # bomb batch: everything after is untrustable
            yield batch

    if data[:6] == MAGIC:
        try:
            reader = pa.ipc.open_file(pa.BufferReader(data))
            n = reader.num_record_batches
        except Exception:
            # torn/absent FOOTER (lives at the END, like the zip
            # central directory): the body after the 8-byte
            # magic+padding is stream-framed — walk it front-to-back
            yield from stream_batches(pa.BufferReader(data[8:]))
            return
        # one batch at a time — buffering the whole file's batches
        # before the first yield would make aggregate memory per file
        # unbounded (the ziparchive lesson); a batch that fails to
        # decode under a valid footer ends the walk, complete batches
        # before it kept
        for i in range(n):
            try:
                batch = reader.get_batch(i)
            except Exception:
                return
            if batch.num_rows > MAX_BATCH_ROWS \
                    or batch.nbytes > MAX_BATCH_BYTES:
                return
            yield batch
        return
    yield from stream_batches(pa.BufferReader(data))


def read_arrow_ipc(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """DataFrame over ``.arrow``/``.feather``/stream-framed IPC files:
    binaryFile scan (per-file parallelism), the bounded batch walk in
    Arrow workers, reader-schema column selection by NAME (``ddl`` is
    the Spark DDL of the expected columns; writer-only columns are
    discarded, reader-only columns null)."""
    return batches_from_binary(
        spark.read.format("binaryFile").load(path), ddl)


def batches_from_binary(bin_df: DataFrame, ddl: str) -> DataFrame:
    """The decode stage of :func:`read_arrow_ipc` over any
    binaryFile-shaped DataFrame (``content`` column) — shared by the
    batch scan and the streaming landing-zone twin
    (``readStream.format('binaryFile')``), so batch and stream agree
    record-for-record (the avro ``records_from_binary`` pattern)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    # a real DDL parse, not a comma split: nested types
    # (map<string,int>, decimal(10,2)) carry commas of their own
    spark_schema = StructType.fromDDL(ddl)
    schema = to_arrow_schema(spark_schema)
    kinds = [f.dataType.simpleString() for f in spark_schema.fields]

    def column(batch, field, kind):
        i = batch.schema.get_field_index(field.name)
        if i < 0:
            return pa.nulls(batch.num_rows, field.type)
        col = batch.column(i)
        if col.type == field.type and not kind.startswith("map<"):
            return col
        if pa.types.is_timestamp(col.type) \
                and pa.types.is_timestamp(field.type):
            # tz drift: naive reads as UTC, aware keeps its instant
            return col.cast(field.type, safe=False)
        return pa.array([_cell(kind, v) for v in col.to_pylist()],
                        type=field.type)

    def gen(batches):
        for inp in batches:
            for content in inp.column(0).to_pylist():
                for batch in iter_batches(content):
                    yield pa.RecordBatch.from_arrays(
                        [column(batch, f, k)
                         for f, k in zip(schema, kinds)], schema=schema)

    return bin_df.select("content").mapInArrow(gen, ddl)


def _cell(kind: str, v):
    """One drifted cell coerced to the reader type, or null. One scan
    spans shard generations: a shard whose column type drifted
    (string vs double, numeric-as-string) must null / convert per
    CELL like the avro and xlsx adapters, not kill the task in
    Spark's Arrow serializer."""
    if v is None:
        return None
    try:
        if kind in ("bigint", "int", "smallint", "tinyint"):
            return int(v) if isinstance(v, int) else round(float(v))
        if kind in ("double", "float"):
            return float(v)
    except (TypeError, ValueError, OverflowError):
        return None
    if kind == "boolean":
        return v if isinstance(v, bool) else (
            bool(v) if isinstance(v, int) and v in (0, 1) else None)
    if kind in ("timestamp", "timestamp_ntz"):
        if isinstance(v, str):
            try:
                v = dt.datetime.fromisoformat(v)
            except ValueError:
                return None
        if not isinstance(v, dt.datetime):
            return None
        if kind == "timestamp_ntz" and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v  # a naive INSTANT reads as UTC
    if kind == "string":
        return v if isinstance(v, str) else (None if v != v else str(v))
    if kind == "binary":
        return bytes(v) if isinstance(v, (bytes, bytearray,
                                          memoryview)) else None
    if kind.startswith("map<"):
        return dict(v)  # duplicate keys: last wins, the Spark semantic
    # other nested types (array/struct): pass through — drift here
    # stays task-fatal by design (no lossless per-cell coercion)
    return v


def infer_ipc_ddl(path: str) -> str:
    """Spark DDL from one local IPC file's embedded schema (driver-
    side peek for interactive use; queries pass DDL explicitly).
    Unsupported Arrow types raise — better a loud plan-time error
    than a silently mangled column."""
    import pyarrow as pa

    data = open(path, "rb").read()
    try:
        schema = pa.ipc.open_file(pa.BufferReader(data)).schema
    except Exception:
        schema = pa.ipc.open_stream(
            pa.BufferReader(data[8:] if data[:6] == MAGIC
                            else data)).schema

    def spark_type(t):
        if pa.types.is_int64(t):
            return "bigint"
        if pa.types.is_int32(t) or pa.types.is_int16(t) \
                or pa.types.is_int8(t):
            return "int"
        if pa.types.is_float64(t):
            return "double"
        if pa.types.is_float32(t):
            return "float"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "binary"
        if pa.types.is_boolean(t):
            return "boolean"
        if pa.types.is_date32(t) or pa.types.is_date64(t):
            return "date"
        if pa.types.is_timestamp(t):
            return "timestamp" if t.tz else "timestamp_ntz"
        raise ValueError(f"unsupported arrow type {t}")

    return ", ".join(f"{f.name} {spark_type(f.type)}" for f in schema)


# -------------------------------------------------------- builder


def build_ipc(rows: dict, framing: str = "file",
              max_chunksize: int = 4096) -> bytes:
    """One deterministic IPC payload from column lists (``rows`` maps
    name -> values), in ``file`` or ``stream`` framing, split into
    batches of at most ``max_chunksize`` rows — the fixture twin of
    :func:`iter_batches`."""
    import pyarrow as pa

    table = pa.table(rows)
    sink = pa.BufferOutputStream()
    new = pa.ipc.new_file if framing == "file" else pa.ipc.new_stream
    with new(sink, table.schema) as writer:
        for batch in table.to_batches(max_chunksize=max_chunksize):
            writer.write_batch(batch)
    return sink.getvalue().to_pybytes()
