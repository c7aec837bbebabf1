"""Loaders for the driver-provided TPC-H-ish testdata (TESTDATA.md).

Parquet scans with Catalyst pushdown; ``register_testdata`` exposes all
tables as temp views so the SQL surface (``spark.sql``) works against
the same names the DuckDB oracle uses.

Timestamp-form tolerance: the testdata generator has shipped events.ts
as parquet TIMESTAMP(NANOS) (round 1), TIMESTAMP(MICROS) (rounds 2-4),
and epoch-nanos longs — and the ``nanosAsLong`` legacy conf silently
stopped working across a Spark build change. ``read_parquet_tolerant``
makes the read path immune to the NANOS physical type: native scan
when the engine accepts it, else the legacy conf, else a distributed
pyarrow row-group reader that surfaces NANOS columns as epoch-ns
longs — exactly the shape ``functions.exact.as_timestamp`` /
``as_epoch_nanos`` already normalize, so downstream queries are
unchanged whichever branch fires.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from aws_kinesis_data_ingestion_restapi_spark.schema import TESTDATA_TABLES
from aws_kinesis_data_ingestion_restapi_spark.session import ensure_runtime_confs

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _parquet_files(path: str) -> list[str]:
    """The parquet data files under ``path`` (itself, or dir children)."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    )


def _nanos_ts_cols(files: list[str]) -> list[str]:
    """Column names carrying parquet TIMESTAMP(NANOS), from the footer
    of the first data file (driver-side metadata peek — no Spark job)."""
    if not files:
        return []
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(files[0]).schema_arrow
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _arrow_to_spark_type(t):
    """Arrow type → Spark type for the fallback reader's schema."""
    from pyspark.sql import types as T

    import pyarrow as pa

    if pa.types.is_timestamp(t):  # ns handled separately; us/ms land here
        return T.TimestampNTZType() if t.tz is None else T.TimestampType()
    mapping = [
        (pa.types.is_int64, T.LongType),
        (pa.types.is_int32, T.IntegerType),
        (pa.types.is_int16, T.ShortType),
        (pa.types.is_int8, T.ByteType),
        (pa.types.is_float64, T.DoubleType),
        (pa.types.is_float32, T.FloatType),
        (pa.types.is_string, T.StringType),
        (pa.types.is_large_string, T.StringType),
        (pa.types.is_binary, T.BinaryType),
        (pa.types.is_large_binary, T.BinaryType),
        (pa.types.is_boolean, T.BooleanType),
        (pa.types.is_date, T.DateType),
    ]
    for pred, spark_t in mapping:
        if pred(t):
            return spark_t()
    raise TypeError(f"unsupported arrow type in NANOS-fallback reader: {t}")


def _read_via_arrow(spark: SparkSession, files: list[str], ns_cols: list[str]) -> DataFrame:
    """Distributed pyarrow reader: one task per (file, row-group), NANOS
    timestamp columns emitted as epoch-ns int64. Row-group granularity
    keeps the parallelism of the native scan; each task reads only its
    own row group (columnar, no shuffle)."""
    from pyspark.sql import types as T

    import pyarrow.parquet as pq

    pieces = []
    for f in files:
        for rg in range(pq.ParquetFile(f).metadata.num_row_groups):
            pieces.append((f, rg))
    arrow_schema = pq.ParquetFile(files[0]).schema_arrow
    fields = [
        T.StructField(
            f.name,
            T.LongType() if f.name in ns_cols else _arrow_to_spark_type(f.type),
            True,
        )
        for f in arrow_schema
    ]
    out_schema = T.StructType(fields)
    ns_set = set(ns_cols)

    def read_pieces(batches):
        import pyarrow.parquet as pq  # re-import on the executor

        for pdf in batches:
            for path, rg in zip(pdf["path"], pdf["rg"]):
                tbl = pq.ParquetFile(path).read_row_group(int(rg))
                out = tbl.to_pandas(timestamp_as_object=False)
                for c in ns_set:
                    # datetime64[ns] → int64 epoch-ns (exact reinterpret)
                    out[c] = out[c].astype("int64")
                yield out

    pairs = spark.createDataFrame(pieces, "path string, rg int")
    return pairs.repartition(max(1, len(pieces))).mapInPandas(
        read_pieces, schema=out_schema
    )


def read_parquet_tolerant(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that survives TIMESTAMP(NANOS) physical
    types. NANOS columns come back as epoch-ns LongType (feed them to
    ``functions.exact.as_timestamp``); everything else reads natively
    with full Catalyst pushdown. Sub-µs precision is preserved by the
    long representation (the µs truncation happens only at the
    documented ``nanos_ts`` conversion, same as the legacy-conf path).

    Known limit: the pyarrow FALLBACK (3rd branch only) reads data
    files directly, so Hive-layout partition columns (``k=v`` dirs)
    are not reconstructed — irrelevant for the flat driver testdata
    this guards, and partitioned stores written by this engine are
    always µs (native branch). Extend ``_read_via_arrow`` with dir
    parsing if a partitioned NANOS source ever appears.
    """
    ensure_runtime_confs(spark)
    files = _parquet_files(path)
    ns_cols = _nanos_ts_cols(files)
    if not ns_cols:
        return spark.read.parquet(path)
    try:
        # Older builds honor nanosAsLong (ensure_runtime_confs set it):
        # ts arrives as long. A future build may read NANOS natively.
        df = spark.read.parquet(path)
        df.select(*ns_cols).limit(1).collect()  # 1-row probe
        return df
    except AnalysisException:  # PARQUET_TYPE_ILLEGAL: this build rejects NANOS
        return _read_via_arrow(spark, files, ns_cols)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_tolerant(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns the frames."""
    frames: dict[str, DataFrame] = {}
    ensure_runtime_confs(spark)
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_parquet_tolerant(spark, path)
        df.createOrReplaceTempView(name)
        frames[name] = df
    return frames
