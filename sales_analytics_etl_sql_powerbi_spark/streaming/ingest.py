"""Continuous CSV ingestion — the reference's front door as a stream.

The reference ingests order exports as batch CSV drops
(etl/order_info_etl.py:176). At warehouse scale those drops arrive
continuously (hourly/daily partner feeds); this module runs the SAME
all-string scan + cleaning stack (S1 + P1-P11) as a Structured
Streaming file source, so one definition serves both modes:

- batch backfill: ``read_input`` → ``clean_order_export``;
- continuous: :func:`stream_order_export` → the identical typed frame,
  incrementally, with exactly-once file tracking from the streaming
  file source's checkpoint.

Every transformation is a plan-level projection (header normalization,
fuzzy auto-map, coercions), so the streaming plan is the batch plan —
batch/stream parity is pinned in tests/test_streaming.py.

At scale: the file source lists new files per micro-batch
(``maxFilesPerTrigger`` bounds batch size); downstream sinks come from
:mod:`.sinks` (parquet append or foreachBatch idempotent upsert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.cleaning import normalize_columns
from ..pipeline import clean_order_export
from ..sources.readers import csv_header_schema


def stream_order_export(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming order-export ingestion: the typed staging frame,
    continuously.

    A streaming file source needs a declared schema. It comes from
    :func:`..sources.readers.csv_header_schema`, the all-``StringType``
    shape ``read_csv_all_string`` reads with: the header line read on
    the driver where that provably gives Spark's own names (no Spark
    job), else Spark's inferred header (one job reading the first
    line). Header normalization and the full cleaning stack then apply
    as the same plan-level projections as the batch path.
    """
    raw_schema = csv_header_schema(spark, path)
    reader = spark.readStream.schema(raw_schema).option("header", True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.csv(path)
    return clean_order_export(normalize_columns(stream))
