"""Input readers — SURVEY §2.1 S1–S4.

The reference ingests order/product exports with
``pd.read_csv(dtype=str, encoding='utf-8-sig')`` (reference
etl/order_info_etl.py:176) or ``pd.read_excel(dtype=str)`` (:178),
dispatched by file extension (:174-180). Semantics to preserve:

- **everything arrives as string** (schema-on-write: explicit coercion
  later, malformed → NULL — never an ingest error);
- BOM-tolerant headers (utf-8-sig);
- unknown extension → ValueError.

Parquet tables (S4) are read with the schema their footers declare,
read on the driver (:func:`parquet_footer`) without a Spark job.

Spark-first shape: the CSV path is a real distributed scan (a 100 TB
export directory splits into ~800k tasks at 128 MB each); only the
Excel shim is driver-side (xlsx is a zip — not splittable — and tiny
in practice; reference sheets are single-digit MB).
"""

from __future__ import annotations

import json
import os
from collections import Counter
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import normalize_columns
from ..session import adopt, scoped

#: Spark's CSV ``maxColumns`` default — a wider header fails its read
_CSV_MAX_COLUMNS = 20480
#: longest header line read on the driver; a longer one falls back
_CSV_HEADER_BYTES = 1 << 20


def _spark_hidden(name: str) -> bool:
    """Whether Spark's file listing skips ``name``
    (``InMemoryFileIndex.shouldFilterOutPathName``)."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return hidden and not name.startswith(("_common_metadata", "_metadata"))


def _local_data_files(spark: SparkSession | None, path: str) -> list[str] | None:
    """The files a Spark read of ``path`` scans, when that is plain on
    the driver: a local non-hidden file, or a local directory whose
    visible entries are all files, under a ``file:`` default FS (when
    ``spark`` is given). None for anything else (a URI, a glob, a
    subdirectory, a missing path)."""
    if "://" in path or path.startswith("file:") or any(c in path for c in "*?[]{}\\"):
        return None
    if spark is not None:
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        if not default_fs.startswith("file:"):
            return None
    if os.path.isfile(path):
        return None if _spark_hidden(os.path.basename(path)) else [path]
    if not os.path.isdir(path):
        return None
    files = []
    for entry in os.scandir(path):
        if _spark_hidden(entry.name):
            continue
        if not entry.is_file():
            return None
        files.append(entry.path)
    return sorted(files)


def _first_line(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.readline(_CSV_HEADER_BYTES)


def _driver_csv_header(spark: SparkSession, path: str) -> list[str] | None:
    """The column names Spark's ``header=True`` CSV read of ``path``
    gives, read on the driver, or None where that is not provable.

    It applies when every data file of a local ``path`` starts with the
    same non-blank ASCII line free of the quote, the escape, NUL and an
    interior CR: Spark's parser then splits that line on ``,`` and
    nothing else, whichever file's line it reads. A UTF-8 BOM and the
    line end are dropped, then Spark's ``CSVUtils.makeSafeHeader`` runs:
    an empty name becomes ``_c{i}``, and a duplicated name — compared
    case-insensitively unless ``spark.sql.caseSensitive`` — becomes
    ``{name}{i}``.

    Raises ValueError, naming the columns, where that renaming itself
    yields a duplicate (``a,,_c1``: the empty name becomes ``_c1`` next
    to a literal ``_c1``), which Spark's read would reject later as
    ``COLUMN_ALREADY_EXISTS``."""
    files = _local_data_files(spark, path)
    if not files:
        return None
    lines = {_first_line(f) for f in files}
    if len(lines) != 1:
        return None
    line = lines.pop()
    if len(line) == _CSV_HEADER_BYTES:
        return None  # may run on past the bytes read
    if line.startswith(b"\xef\xbb\xbf"):
        line = line[3:]
    line = line.removesuffix(b"\n").removesuffix(b"\r")
    # Spark skips a line that Java's String.trim (every char up to the
    # space) leaves empty
    if (
        not line.strip(bytes(range(33)))
        or not line.isascii()
        or any(c in line for c in b'"\\\0\r')
    ):
        return None
    names = line.decode("ascii").split(",")
    if len(names) > _CSV_MAX_COLUMNS:
        return None
    case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"

    def fold(name: str) -> str:
        return name if case_sensitive else name.lower()

    counts = Counter(fold(n) for n in names)
    safe = [
        f"_c{i}" if not n else f"{n}{i}" if counts[fold(n)] > 1 else n
        for i, n in enumerate(names)
    ]
    safe_counts = Counter(fold(n) for n in safe)
    collisions = [n for n in safe if safe_counts[fold(n)] > 1]
    if collisions:
        raise ValueError(
            f"CSV header of {path!r} names columns {collisions} more than "
            "once after Spark's header renaming (an empty name becomes "
            "_c<i>, a duplicated one <name><i>); rename them in the export"
        )
    return safe


def _csv_reader(spark: SparkSession):
    return (
        spark.read.option("header", True)
        .option("encoding", "UTF-8")
        # keep raw strings: no schema inference pass over the data
        .option("inferSchema", False)
    )


def csv_header_schema(spark: SparkSession, path: str) -> T.StructType:
    """The all-string schema of a CSV export with a header line: the
    names Spark's ``header=True`` read gives, every column StringType.

    Read on the driver without a Spark job where
    :func:`_driver_csv_header` proves the names equal Spark's; anywhere
    else (quoted or non-ASCII headers, parts whose first lines differ,
    an empty file, remote paths) Spark infers the header with its own
    one-job read. A driver-read header whose renamed columns collide
    raises ValueError naming them."""
    names = _driver_csv_header(spark, path)
    if names is None:
        return _csv_reader(spark).csv(path).schema
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


def read_csv_all_string(spark: SparkSession, path: str) -> DataFrame:
    """S1 — CSV scan with every column as StringType (mirrors dtype=str).

    The header comes from :func:`csv_header_schema` — on the driver for
    a plain local export, so the read launches no job — and data
    columns are never type-inferred, exactly like the reference. A
    UTF-8 BOM is dropped from the header by either read (utf-8-sig);
    ``normalize_colname`` then cleans the names (reference
    etl/order_info_etl.py:31-35,182).
    """
    df = _csv_reader(spark).schema(csv_header_schema(spark, path)).csv(path)
    return normalize_columns(df)


def read_excel(spark: SparkSession, path: str, sheet: int | str = 0) -> DataFrame:
    """S2 — Excel ingest shim (driver-side parse → createDataFrame).

    Mirrors ``pd.read_excel(path, sheet_name=SHEET, dtype=str)``
    (reference etl/order_info_etl.py:178, sheet config :13 — the
    reference accepts BOTH ``xls`` and ``xlsx``, :177). Neither
    container is splittable, so a driver-side read is the honest
    architecture; both parses are pure-stdlib — zip+XML for ``.xlsx``
    (:mod:`.xlsx`) and CFB+BIFF8 for legacy binary ``.xls``
    (:mod:`.xls`) — and every value arrives as a raw string, like
    every other source.
    """
    if path.lower().endswith(".xls"):
        from .xls import read_xls_table

        headers, rows = read_xls_table(path, sheet)
    else:
        from .xlsx import read_xlsx_table

        headers, rows = read_xlsx_table(path, sheet)
    schema = T.StructType(
        [T.StructField(str(h), T.StringType(), True) for h in headers]
    )
    return normalize_columns(spark.createDataFrame(rows, schema=schema))


def read_input(spark: SparkSession, path: str, sheet: int | str = 0) -> DataFrame:
    """S3 — dispatch by extension, raise on unknown.

    Mirrors reference etl/order_info_etl.py:174-180, widened with the
    corpus drop formats a training-data pipeline ingests: JSON-lines
    (schema inferred — JSON carries types, unlike the all-string CSV
    contract) and raw text (one row per line, ``value`` column). All
    are distributed scans; only the Excel shim is driver-side.
    """
    ext = os.path.splitext(path)[1].lower()
    if ext == ".csv":
        return read_csv_all_string(spark, path)
    if ext in (".xls", ".xlsx"):
        return read_excel(spark, path, sheet=sheet)
    if ext == ".parquet":
        return spark.read.parquet(path)
    if ext in (".json", ".jsonl", ".ndjson"):
        return spark.read.json(path)
    if ext == ".txt":
        return spark.read.text(path)
    raise ValueError(f"Unsupported input extension: {ext!r} ({path})")


#: Scan spread: do not create slices under this many rows.
SPREAD_ROWS_PER_SLICE = 64


def footer_schema(spark: SparkSession | None, meta) -> T.StructType | None:
    """The schema Spark infers for a parquet file, from its pyarrow
    ``FileMetaData`` on the driver, or None where that is not provable.

    A Spark writer's schema JSON in the footer is the schema, as for
    Spark's own reader. Otherwise every column must be an int32, int64,
    float, double, bool, UTF-8 string or microsecond timestamp (with or
    without a zone), or a list of one, and the schema is
    ``from_arrow_schema`` with zone-less timestamps as TimestampNTZ, as
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` reads them; a
    session with that conf off gets None. ``spark`` None takes Spark's
    defaults."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    if spark is not None and spark.conf.get(ntz, "true").lower() != "true":
        return None
    spark_json = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if spark_json is not None:
        return T.StructType.fromJson(json.loads(spark_json))

    def plain(t) -> bool:
        if pa.types.is_timestamp(t):
            return t.unit == "us"
        return t in (pa.int32(), pa.int64(), pa.float32(), pa.float64(), pa.bool_(), pa.string())

    arrow = meta.schema.to_arrow_schema()
    if not all(plain(f.type.value_type if pa.types.is_list(f.type) else f.type) for f in arrow):
        return None
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


class ParquetFooter(NamedTuple):
    """A local parquet table as its footers describe it: ``schema`` is
    Spark's (None where not provable), ``stamp`` each data file's
    (name, size, mtime_ns), which a rewrite in place changes."""

    schema: T.StructType | None
    rows: int
    row_groups: int
    stamp: tuple


def parquet_footer(path: str, spark: SparkSession | None = None) -> ParquetFooter | None:
    """One driver-side read of the footers of a local parquet file or
    flat directory, no Spark job; ``spark`` is the session that reads
    it (see :func:`footer_schema`). None for a URI, nested (partition)
    directories, summary files or an unreadable footer; ``schema`` is
    None also where the data files' schemas differ."""
    files = _local_data_files(spark, path)
    if not files or any(
        os.path.basename(f).startswith(("_metadata", "_common_metadata")) for f in files
    ):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        metas = [pq.read_metadata(f) for f in files]
        schemas = [footer_schema(spark, m) for m in metas]
        stats = [os.stat(f) for f in files]
    except (OSError, ValueError, pa.ArrowException):
        return None  # not a parquet file, or a footer pyarrow cannot read
    return ParquetFooter(
        schema=schemas[0] if all(s == schemas[0] for s in schemas) else None,
        rows=sum(m.num_rows for m in metas),
        row_groups=sum(m.num_row_groups for m in metas),
        stamp=tuple(
            (os.path.basename(f), st.st_size, st.st_mtime_ns) for f, st in zip(files, stats)
        ),
    )


#: absolute path → the file stamp of its last read in this process
_READ_STAMPS: dict[str, tuple] = {}


def _scan(spark: SparkSession, path: str, spread: bool) -> DataFrame:
    """``path`` read with the schema its footers prove, or with Spark's
    inference where they do not, and spread (:func:`spread_scan`) when
    asked. A table rewritten in place since this process last read it
    is refreshed first: Spark's cache matches a plan by the table's
    path, so a frame persisted over the old files would keep serving
    their rows."""
    footer = parquet_footer(path, spark)
    if footer is not None:
        key = os.path.abspath(path)
        if _READ_STAMPS.setdefault(key, footer.stamp) != footer.stamp:
            spark.catalog.refreshByPath(path)
            _READ_STAMPS[key] = footer.stamp
    reader = spark.read
    if footer is not None and footer.schema is not None:
        reader = reader.schema(footer.schema)
    df = reader.parquet(path)
    return spread_scan(spark, df, footer) if spread else df


def spread_scan(
    spark: SparkSession, df: DataFrame, footer: ParquetFooter | None
) -> DataFrame:
    """Scale-adaptive scan parallelism (optimization round 18).

    A parquet scan's effective parallelism is bounded by the file's
    ROW-GROUP count, not its byte size: Spark plans byte-range splits,
    but every row group is read by the single task whose split holds
    its midpoint. The driver's testdata tables are one file × one row
    group each, so every scan-side expression (md5 surrogate keys,
    regex extraction, token folds, codec decode batches) ran on ONE
    core regardless of cluster size.

    Fix, derived from the input's own metadata (guide §2 — make
    partitioning scale-adaptive rather than a constant):

    - row_groups ≥ defaultParallelism → the scan already parallelizes
      (the 100-TB case: thousands of row groups); return unchanged, so
      at scale this is a structural no-op and the scan keeps its
      pushdown/pruning shape.
    - otherwise round-robin repartition to
      ``min(defaultParallelism, rows // SPREAD_ROWS_PER_SLICE)`` when that
      beats the file's own parallelism. Catalyst pushes deterministic
      filters and column pruning THROUGH a Repartition node, so
      ``PushedFilters``/``ReadSchema`` still reach the scan; the
      exchange moves only the pruned columns, and row-identical
      results are partitioning-independent by construction everywhere
      in this package (content-addressed sampling, range-partitioned
      id generation, rounded/quantized aggregate surfaces).
    """
    if footer is None:
        return df
    rows, row_groups = footer.rows, footer.row_groups
    parallelism = spark.sparkContext.defaultParallelism
    if row_groups >= parallelism:
        return df
    target = min(parallelism, rows // SPREAD_ROWS_PER_SLICE)
    if target <= row_groups:
        return df
    return df.repartition(target)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """S4 — table scan with the schema the table's parquet footers
    declare (:func:`_scan`), as the reference declares its tables as
    DDL; each call reads the table as it is now.

    ``events`` gets its nanosecond epoch normalized to TimestampType
    (see :func:`read_events`). Scans are spread to the session's
    parallelism when the file's row-group layout under-parallelizes
    them (:func:`spread_scan` — a no-op at production layouts).
    ``spread=False`` opts a consumer out: measured A/B (round 18),
    queries whose first real operation is already a key shuffle or a
    reduce gain nothing from the spread and pay its exchange —
    per-branch, since filter pushdown splits otherwise-shared scan
    subtrees — so aggregate-first consumers should pass False.
    """
    if name == "events":
        return read_events(spark, sf_dir, spread=spread)
    return _scan(spark, os.path.join(sf_dir, f"{name}.parquet"), spread)


#: the confs timestamps are read and cast under — the events ``ts``
#: encodings (see :func:`read_events`) and the zone-naive DuckDB
#: oracle — also the set every ``queries()`` entry plans under
TIMESTAMP_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def read_events(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """events table with ``ts`` as a proper TimestampType column.

    The driver's generator has shipped ``ts`` in two encodings across
    rounds, so both are normalized here rather than trusting the file:

    - parquet INT64 TIMESTAMP(NANOS), which Spark's reader rejects
      unless ``spark.sql.legacy.parquet.nanosAsLong`` is set. The long
      nanos are truncated to microseconds with integer division —
      ``/ 1000`` through DOUBLE would lose precision at 1.7e18 —
      exactly what DuckDB's microsecond TIMESTAMP does, so both engines
      see identical values.
    - parquet ``timestamp[us]`` without a zone, which Spark reads as
      TimestampNTZType. The NTZ→TimestampType cast interprets the
      wall-clock value in the SESSION time zone, so it is built under
      UTC; values stay identical to DuckDB's naive TIMESTAMP read of
      the same file.

    The microsecond encoding reads with its footer schema; Spark infers
    the nanosecond one (see :func:`footer_schema`).

    Both run under :data:`TIMESTAMP_CONF` through
    :func:`..session.scoped`, so the caller's confs are never written
    (callers build their own SparkSession). The scan keeps the
    nanos-as-long reader it was built with and the cast keeps its UTC
    zone, so the frame is returned as one of the caller's session.
    Downstream (streaming watermarks, window(), the oracle hash
    compare) always sees one stable type: TimestampType.
    """
    read = scoped(spark, TIMESTAMP_CONF)
    df = _scan(read, os.path.join(sf_dir, "events.parquet"), spread)
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return adopt(spark, df)
