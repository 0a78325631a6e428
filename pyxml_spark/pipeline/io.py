"""Source helpers: Iceberg table when a catalog is configured, parquet path
fallback (the sandbox has no Iceberg catalog; schemas are identical).

At production scale the transcripts live in an Iceberg table partitioned by
a conv_id bucket transform; filters and column pruning push into the scan
either way because everything downstream selects only
(conv_id, turn_idx, text) before the UDF stage.

A parquet path is read with the declared :data:`TRANSCRIPTS_SCHEMA`, so no
Spark job opens a footer to infer the schema. The declaration is checked
first: the driver reads one data file's footer through the JVM (Hadoop
``FileSystem`` + the parquet footer reader, no Spark job) and converts it
the way Spark's inference does. Only when that schema is
TRANSCRIPTS_SCHEMA is the declared read used; any other input (a missing
``conv_id``, ``turn_idx`` or ``text``, another type, extra columns, a
partitioned or glob path) is read with inference as before, so it fails or
reads exactly as it did — a missing column still raises at the select,
before any write, instead of reading as nulls.
"""
from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from .schema import TRANSCRIPTS_SCHEMA

__all__ = ['hadoop_path', 'read_transcripts', 'is_table_ref']


def is_table_ref(ref: str) -> bool:
    """catalog table refs look like cat.db.table; paths contain / or end
    in .parquet"""
    return '/' not in ref and not ref.endswith('.parquet')


def hadoop_path(spark: SparkSession, ref: str) -> tuple:
    """(Hadoop ``FileSystem``, ``Path``) of ``ref``, for driver-side
    file-system calls that run no Spark job"""
    path = spark._jvm.org.apache.hadoop.fs.Path(ref)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _footer_schema(spark: SparkSession, ref: str):
    """the schema Spark's inference would give the parquet path ``ref``,
    from one data file's footer read on the driver; None when the path
    holds no plain data file to read it from (missing, a glob, empty, a
    summary file or a partition directory, which inference would add
    columns for)"""
    from pyspark.sql.types import StructType
    if any(c in ref for c in '*?[{'):
        return None
    fs, path = hadoop_path(spark, ref)
    if not fs.exists(path):
        return None
    if fs.getFileStatus(path).isDirectory():
        data = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if st.isDirectory() and not name.startswith(('_', '.')):
                return None  # partition directory
            if name in ('_metadata', '_common_metadata'):
                return None  # inference would read the summary file
            if st.isFile() and not name.startswith(('_', '.')):
                data.append((name, st.getPath()))
        if not data:
            return None
        path = min(data)[1]
    jvm = spark._jvm
    parquet = jvm.org.apache.parquet.hadoop
    reader = parquet.ParquetFileReader.open(
        parquet.util.HadoopInputFile.fromPath(
            path, spark._jsc.hadoopConfiguration()))
    try:
        footer = parquet.Footer(path, reader.getFooter())
    finally:
        reader.close()
    fmt = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = fmt.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf())
    return StructType.fromJson(json.loads(
        fmt.ParquetFileFormat.readSchemaFromFooter(footer, converter).json()))


def read_transcripts(spark: SparkSession, ref: str) -> DataFrame:
    """load the transcripts input from an Iceberg table or a parquet path;
    a parquet path whose footer holds TRANSCRIPTS_SCHEMA is read with it
    declared (no footer-inference job)"""
    if is_table_ref(ref):
        return spark.read.format('iceberg').load(ref)
    got = _footer_schema(spark, ref)
    if got is not None and [(f.name, f.dataType) for f in got] == \
            [(f.name, f.dataType) for f in TRANSCRIPTS_SCHEMA]:
        return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(ref)
    return spark.read.parquet(ref)

