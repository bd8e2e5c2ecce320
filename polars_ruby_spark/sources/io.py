"""Readers/scanners (parity: /root/reference/lib/polars/io/*.rb).

``scan_*`` and ``read_*`` both return lazy plans (Spark reads are lazy);
``read_*`` returns the eager DataFrame wrapper for API parity
(``io/parquet.rb:38`` vs ``:163``).
"""

from __future__ import annotations

import functools
import glob
import os
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import SparkSession

from ..datatypes import to_spark_type
from ..session import get_spark


def _spark(spark: SparkSession | None = None) -> SparkSession:
    return spark or get_spark()


def _schema_arg(schema):
    if schema is None:
        return None
    if isinstance(schema, dict):
        from pyspark.sql import types as T

        return T.StructType([T.StructField(k, to_spark_type(v)) for k, v in schema.items()])
    return schema


#: Confs whose session value changes the schema Spark infers for a parquet
#: file set; their values are part of the schema memo's key.
_INFERENCE_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)


def _parquet_files(path: str) -> list[str] | None:
    """Every file ``path`` resolves to, sorted, walking directories and
    expanding globs.  None when this process cannot list the path the way
    Spark does (a non-local scheme, Hadoop ``{a,b}`` alternation)."""
    url = urlparse(path)
    if url.scheme == "file":
        path = url.path
    elif url.scheme or "{" in path:
        return None
    roots = (sorted(glob.glob(path, include_hidden=True))
             if any(ch in path for ch in "*?[") else [path])
    names = []
    for root in roots:
        if os.path.isdir(root):
            for d, _, fs in os.walk(root, followlinks=True):
                names += [os.path.join(d, f) for f in fs]
        else:
            names.append(root)
    return sorted(names)


def _snapshot(files: list[str] | None) -> tuple | None:
    """The file part of the schema memo's key: ``(path, inode, size,
    mtime_ns, ctime_ns)`` of a one-file set (a file, or a directory or glob
    holding one).  None, so the read infers, for a path without a listing,
    for several files or none, and when the stat fails.  A multi-file set is
    left out because a first read would list it twice in Spark, once to
    infer and once with the schema, and on a large directory that second
    listing costs more than the inference job."""
    if files is None or len(files) != 1:
        return None
    try:
        st = os.stat(files[0])
    except OSError:
        return None
    return (files[0], st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


@functools.lru_cache(maxsize=256)
def _inferred_schema(spark: SparkSession, path: str, snapshot: tuple, confs: tuple):
    """The schema Spark infers for ``path``, memoized by its file
    ``snapshot`` and the inference confs' session values ``confs``."""
    return spark.read.parquet(path).schema


def _read_parquet(spark: SparkSession, path: str, files: list[str] | None):
    """``spark.read.parquet(path)``.  A repeat read of an unchanged one-file
    set under the same inference confs passes the schema Spark inferred the
    first time, which skips the footer-reading inference job."""
    snapshot = _snapshot(files)
    if snapshot is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return spark.read.schema(_inferred_schema(spark, path, snapshot, confs)).parquet(path)


def _ns_timestamp_cols(files: list[str] | None) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark 4 refuses them
    unless read as Long (spark.sql.legacy.parquet.nanosAsLong); we then cast
    ns→µs ourselves (polars Datetime('ns') → Spark µs, SURVEY §1.3).

    Probes the footer of the first data file of the scan's listing
    ``files`` (hidden ``_``/``.`` files are skipped, as Spark skips them)."""
    if not files:
        return []
    data = [f for f in files if not os.path.basename(f).startswith(("_", "."))]
    probe = data[0] if data else files[0]
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(probe)
        # physical schema check: INT96 timestamps (Spark's own default output)
        # also surface as timestamp[ns] in arrow but Spark reads them natively
        # — only INT64/TIMESTAMP(NANOS) columns need the long+cast workaround
        phys = {pf.schema.column(i).name: pf.schema.column(i).physical_type
                for i in range(len(pf.schema))}
        return [f.name for f in pf.schema_arrow
                if str(f.type) == "timestamp[ns]" and phys.get(f.name) == "INT64"]
    except Exception:
        return []


def scan_parquet(source, hive_partitioning: bool = True, n_rows: int | None = None,
                 row_index_name: str | None = None, spark=None, **kw):
    """io/parquet.rb:163 — lazy parquet scan; stats pruning / hive partitions /
    globs are Spark-native.

    The first scan of a file set runs one Spark job, the schema inference
    that reads the parquet footers.  A repeat scan of the same path that
    resolves to one unchanged file runs none: it reuses the schema inferred
    the first time.  A scan infers afresh when that file was replaced,
    renamed or rewritten since (its inode, size, mtime or ctime differs),
    when the path now resolves to another file or to several, or when one of
    the inference confs changed: ``spark.sql.parquet.mergeSchema``,
    ``.binaryAsString``, ``.int96AsTimestamp``, ``.inferTimestampNTZ.enabled``,
    ``spark.sql.legacy.parquet.nanosAsLong``, ``spark.sql.caseSensitive``,
    ``spark.sql.sources.partitionColumnTypeInference.enabled`` or
    ``spark.sql.timestampType``.  Paths that resolve to several files, and
    paths with a non-local scheme (``s3a://``, ``hdfs://``), always infer."""
    from pyspark.sql import functions as F

    from ..frame import LazyFrame
    from ..operators.row_index import with_row_index

    s = _spark(spark)
    path = str(_materialize_source(source, ".parquet"))
    files = _parquet_files(path)
    ns_cols = _ns_timestamp_cols(files)
    if ns_cols:
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = _read_parquet(s, path, files)
    for c in ns_cols:
        # integer `div` keeps full precision (double division would lose
        # sub-µs bits on ~1e18 nanosecond epochs)
        sdf = sdf.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if n_rows is not None:
        sdf = sdf.limit(n_rows)
    if row_index_name:
        sdf = with_row_index(sdf, row_index_name)
    return LazyFrame(sdf)


def read_parquet(source, n_rows: int | None = None, row_index_name: str | None = None,
                 columns=None, spark=None, **kw):
    """io/parquet.rb:38 — eager parquet read."""
    from ..frame import DataFrame

    lf = scan_parquet(source, n_rows=n_rows, row_index_name=row_index_name, spark=spark)
    if columns:
        lf = lf.select(*columns)
    return DataFrame(lf._sdf)


def read_parquet_schema(source, spark=None) -> dict:
    """io/parquet.rb:127 — schema without reading data."""
    path = str(source)
    sdf = _read_parquet(_spark(spark), path, _parquet_files(path))
    return {f.name: f.dataType for f in sdf.schema.fields}


#: temp files spooled for IO-object sources; lazy scans reference the path
#: until materialized, so lifetime is process-long — reaped at exit.
_SPOOLED_PATHS: list[str] = []


def _reap_spooled() -> None:
    import os

    while _SPOOLED_PATHS:
        p = _SPOOLED_PATHS.pop()
        try:
            os.unlink(p)
        except OSError:
            pass


def _materialize_source(source, suffix: str):
    """The reference's readers accept paths, Pathname, AND IO objects
    (csv_test.rb/json_test.rb StringIO cases) — spool file-likes to a temp
    file for Spark's path-based readers.  Remote URLs must be passed as
    URI objects in the reference; plain http(s) strings raise.

    Spooled files must outlive any LazyFrame scanning them, so they are
    tracked in ``_SPOOLED_PATHS`` and deleted atexit (ADVICE r2 leak fix)."""
    if hasattr(source, "read"):
        import atexit
        import tempfile

        data = source.read()
        if isinstance(data, str):
            data = data.encode()
        f = tempfile.NamedTemporaryFile(suffix=suffix, delete=False)
        f.write(data)
        f.close()
        if not _SPOOLED_PATHS:
            atexit.register(_reap_spooled)
        _SPOOLED_PATHS.append(f.name)
        return f.name
    s = str(source)
    if s.startswith(("http://", "https://")):
        raise ValueError("use URI(...) for remote files")
    return s


def scan_csv(source, has_header: bool = True, separator: str = ",", comment_prefix=None,
             quote_char: str = '"', skip_rows: int = 0, schema=None, dtypes=None,
             null_values=None, try_parse_dates: bool = False, n_rows=None,
             infer_schema_length: int | None = 100, encoding: str = "utf8",
             truncate_ragged_lines: bool = False, row_index_name=None, spark=None, **kw):
    """io/csv.rb:557 — lazy CSV scan; option mapping per SURVEY §2.1."""
    from ..frame import LazyFrame
    from ..operators.row_index import with_row_index

    reader = _spark(spark).read.options(
        header=has_header,
        sep=separator,
        quote=quote_char,
        inferSchema=schema is None and dtypes is None and infer_schema_length is not None,
        mode="PERMISSIVE" if truncate_ragged_lines else "PERMISSIVE",
    )
    if comment_prefix:
        reader = reader.option("comment", comment_prefix)
    if null_values:
        nv = null_values if isinstance(null_values, str) else (
            null_values[0] if isinstance(null_values, list) else None)
        if nv is not None:
            reader = reader.option("nullValue", nv)
    if try_parse_dates:
        reader = reader.option("inferSchema", True).option(
            "timestampFormat", "yyyy-MM-dd HH:mm:ss")
    sch = _schema_arg(schema or dtypes)
    if sch is not None:
        reader = reader.schema(sch)
    sdf = reader.csv(_materialize_source(source, ".csv"))
    if not has_header:
        # polars names headerless columns column_1.. (csv_test.rb)
        sdf = sdf.toDF(*[f"column_{i + 1}" for i in range(len(sdf.columns))])
    if skip_rows:
        from ..operators.row_index import with_row_index as _wri
        from pyspark.sql import functions as F

        sdf = _wri(sdf, "__skip__").filter(F.col("__skip__") >= skip_rows).drop("__skip__")
    if n_rows is not None:
        sdf = sdf.limit(n_rows)
    if row_index_name:
        sdf = with_row_index(sdf, row_index_name)
    return LazyFrame(sdf)


def read_csv(source, **kw):
    """io/csv.rb:93 — eager CSV read."""
    from ..frame import DataFrame

    return DataFrame(scan_csv(source, **kw)._sdf)


class BatchedCsvReader:
    """batched_csv_reader.rb:6 — lazily yields DataFrames of ``batch_size``
    rows each via ``next_batches(n)`` (nil/None when exhausted, matching
    the reference).

    Spark-first shape: the CSV is scanned ONCE, row-indexed with the
    two-pass partition-prefix machinery (no global window), and cached;
    each batch is a row-range filter over the cached frame — no driver
    collect, batches stay distributed DataFrames."""

    def __init__(self, source, batch_size: int = 50_000, **kw):
        from pyspark.sql import functions as F

        from ..operators.row_index import with_row_index

        lf = scan_csv(source, **kw)
        self._sdf = with_row_index(lf._sdf, "__batch_rix__").cache()
        self._F = F
        self._batch_size = int(batch_size)
        self._pos = 0
        self._total = None

    def next_batches(self, n: int):
        from ..frame import DataFrame

        if self._total is None:
            self._total = self._sdf.count()  # materializes the cache
        out = []
        for _ in range(n):
            if self._pos >= self._total:
                break
            lo, hi = self._pos, self._pos + self._batch_size
            c = self._F.col("__batch_rix__")
            out.append(DataFrame(
                self._sdf.filter((c >= lo) & (c < hi)).drop("__batch_rix__")))
            self._pos = hi
        return out or None


def read_csv_batched(source, batch_size: int = 50_000, **kw):
    """io/csv.rb:407 — returns a BatchedCsvReader."""
    return BatchedCsvReader(source, batch_size=batch_size, **kw)


def read_json(source, spark=None, **kw):
    """io/json.rb:9 — JSON array-of-records (multiLine)."""
    from ..frame import DataFrame

    return DataFrame(_spark(spark).read.option("multiLine", True).json(
        _materialize_source(source, ".json")))


def scan_ndjson(source, spark=None, **kw):
    """io/ndjson.rb:53 — newline-delimited JSON (Spark-native format)."""
    from ..frame import LazyFrame

    return LazyFrame(_spark(spark).read.json(
        _materialize_source(source, ".ndjson")))


def read_ndjson(source, **kw):
    from ..frame import DataFrame

    return DataFrame(scan_ndjson(source, **kw)._sdf)


def read_avro(source, spark=None, **kw):
    """io/avro.rb:14 — Avro Object Container Files via the pure-Python
    codec (``sources/avro_codec.py``; this distribution bundles no
    spark-avro connector jar and the environment is offline).

    Distributed per FILE: the driver parses only the first header for the
    schema; each container decodes inside an executor (binaryFile scan →
    ``mapInPandas``), so a directory of containers scales with file count
    (one huge single container is one task — the same bound the eager
    reference reader has).
    """
    import glob as _glob
    import os

    import pandas as _pd

    from ..frame import DataFrame
    from .avro_codec import avro_schema_to_spark, read_container, read_header

    sp = _spark(spark)
    src = _materialize_source(source, ".avro")
    paths = sorted(_glob.glob(src)) if any(ch in src for ch in "*?[") \
        else [src]
    first = paths[0]
    if os.path.isdir(first):
        cand = sorted(os.path.join(first, f) for f in os.listdir(first)
                      if not f.startswith(("_", ".")))
        first = cand[0]
    with open(first, "rb") as fh:
        head = fh.read()
    avro_schema, _codec, _sync, _pos = read_header(head)
    st = avro_schema_to_spark(avro_schema)
    names = [f.name for f in st.fields]
    bin_df = sp.read.format("binaryFile").load(src)

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                _schema, rows = read_container(bytes(content))
                if rows:
                    cols = list(zip(*rows))
                    yield _pd.DataFrame(
                        {n: _pd.Series(c, dtype="object")
                         for n, c in zip(names, cols)})
                else:
                    yield _pd.DataFrame({n: _pd.Series([], dtype="object")
                                         for n in names})

    return DataFrame(bin_df.select("content").mapInPandas(decode, st))


def read_ipc(source, spark=None, **kw):
    """io/ipc.rb:27 — Arrow IPC via pyarrow → createDataFrame (no native src).

    Accepts a single ``.arrow`` file or a directory of ``part-*.arrow``
    files as produced by ``LazyFrame.sink_ipc``."""
    import os

    import pyarrow as pa
    import pyarrow.feather as feather

    from ..frame import DataFrame

    src = source if hasattr(source, "read") else str(source)
    if not hasattr(src, "read") and os.path.isdir(src):
        parts = sorted(
            os.path.join(src, f) for f in os.listdir(src) if f.endswith(".arrow"))
        table = pa.concat_tables([feather.read_table(p) for p in parts])
    else:
        table = feather.read_table(src)
    return DataFrame(_spark(spark).createDataFrame(table.to_pandas()))


def scan_ipc(source, spark=None, **kw):
    """io/ipc.rb:189 — lazy form of read_ipc (the pyarrow bridge is eager
    either way; kept for API parity)."""
    return read_ipc(source, spark=spark, **kw).lazy()


def read_ipc_schema(source, spark=None) -> dict:
    """io/ipc.rb:218 — schema without reading data."""
    import pyarrow.feather as feather
    from pyspark.sql.pandas.types import from_arrow_type

    src = source if hasattr(source, "read") else str(source)
    schema = feather.read_table(src).schema
    return {f.name: from_arrow_type(f.type) for f in schema}


def read_ipc_stream(source, spark=None, **kw):
    """io/ipc.rb:150 — Arrow STREAMING format (no footer), distinct from
    the random-access file format read_ipc handles."""
    import pyarrow.ipc as ipc

    from ..frame import DataFrame

    with ipc.open_stream(str(source)) as r:
        table = r.read_all()
    return DataFrame(_spark(spark).createDataFrame(table.to_pandas()))


def read_database(query: str, url: str | None = None, spark=None, **kw):
    """io/database.rb:12 — JDBC."""
    from ..frame import DataFrame

    reader = _spark(spark).read.format("jdbc").option("query", query)
    if url:
        reader = reader.option("url", url)
    for k, v in kw.items():
        reader = reader.option(k, v)
    return DataFrame(reader.load())


def from_pandas(pdf, spark=None):
    from ..frame import DataFrame

    return DataFrame(_spark(spark).createDataFrame(pdf))


def from_arrow(table, spark=None):
    return from_pandas(table.to_pandas(), spark)


def pylists_to_sdf(data: dict[str, list], schema=None, spark=None):
    """Build a Spark DF from python lists, Arrow-first: pyarrow inference
    preserves NaN as a float VALUE (Spark's pandas path nulls it) and keeps
    integer columns integral under nulls (pandas coerces to float64).
    Falls back to the pandas path for inputs Arrow can't infer."""
    import pyarrow as pa

    sch = _schema_arg(schema)
    try:
        table = pa.table({k: (v if isinstance(v, pa.Array) else pa.array(v))
                          for k, v in data.items()})
        return _spark(spark).createDataFrame(table, schema=sch)
    except Exception:
        import pandas as pd

        return _spark(spark).createDataFrame(pd.DataFrame(data), schema=sch)


def from_hash(data: dict[str, list], schema=None, spark=None):
    """convert.rb:29 — hash-of-arrays → frame.  Values may also be Series
    (data_frame_test.rb: the key names the column) or scalars (broadcast);
    mismatched column lengths raise like the reference."""
    from ..frame import DataFrame
    from ..series import Series

    for k in data:
        if not isinstance(k, str):
            raise TypeError(
                f"no implicit conversion of {type(k).__name__} into String")
    # Series values carry an exact dtype the list round-trip would lose
    # (u64 → Decimal(20,0) would re-infer as Decimal(1,0)); re-cast after
    from pyspark.sql import types as _T

    stypes = {k: v.dtype for k, v in data.items() if isinstance(v, Series)
              and not isinstance(v.dtype, _T.NullType)}
    data = {k: (v.to_a() if isinstance(v, Series)
                else list(v) if isinstance(v, (list, tuple, range)) else v)
            for k, v in data.items()}
    lengths = {k: len(v) for k, v in data.items() if isinstance(v, list)}
    if lengths:
        n = max(lengths.values())
        if any(l != n for l in lengths.values()):
            raise ValueError(
                "lengths don't match: could not create a DataFrame from "
                f"columns of unequal lengths {lengths}")
        data = {k: (v if isinstance(v, list) else [v] * n)
                for k, v in data.items()}
    else:
        data = {k: [v] for k, v in data.items()}
    sdf = pylists_to_sdf(data, schema, spark)
    if stypes and schema is None:
        sdf = sdf.select(*[
            sdf[c].cast(stypes[c]).alias(c)
            if c in stypes and sdf.schema[c].dataType != stypes[c]
            else sdf[c] for c in sdf.columns])
    return DataFrame(sdf)


def from_records(rows: list, schema=None, orient: str = "row", spark=None):
    from ..frame import DataFrame

    if rows and all(isinstance(r, dict) for r in rows):
        # Arrow-first (types_test.rb dtype matrix): handles all-null columns
        # (Null dtype), nested structs/lists, and NaN preservation — the
        # direct createDataFrame(rows) path fails type inference on these
        import pyarrow as pa

        try:
            table = pa.Table.from_pylist(rows)
            return DataFrame(_spark(spark).createDataFrame(
                table, schema=_schema_arg(schema)))
        except Exception:
            pass
    return DataFrame(_spark(spark).createDataFrame(rows, schema=_schema_arg(schema)))


def write_bucketed(frame, table: str, bucket_by, n_buckets: int = 32,
                   sort_by=None, mode: str = "overwrite", format: str = "parquet"):
    """Write as a bucketed (+ optionally sorted) table for co-located joins.

    Joining two tables bucketed on the same key with the same bucket count
    lets Catalyst plan a shuffle-FREE (and with sort_by, merge-ready) join —
    the 100 TB answer for repeated big-big joins on a stable key.  Bucketing
    requires the session catalog (``saveAsTable``), not a bare path.
    """
    bucket_by = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    sdf = frame.to_spark()
    if mode == "overwrite":
        s = sdf.sparkSession
        s.sql(f"DROP TABLE IF EXISTS {table}")
        # an in-memory metastore forgets tables across sessions but the
        # warehouse directory persists → LOCATION_ALREADY_EXISTS; clear it
        if "." not in table:
            import shutil
            from urllib.parse import urlparse

            wh = urlparse(s.conf.get("spark.sql.warehouse.dir")).path
            shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    writer = (sdf.write.format(format).mode(mode)
              .bucketBy(n_buckets, *bucket_by))
    if sort_by:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def scan_table(table: str, spark=None):
    """Lazy scan of a catalog table (pairs with :func:`write_bucketed`)."""
    from ..frame import LazyFrame

    return LazyFrame(_spark(spark).table(table))
