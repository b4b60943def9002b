"""File sources — CSV (with the reference's dialect presets), ORC, and the
formats the reference declares but never implemented (parquet/json/avro:
FileFormats.java:3-15, orc read stub rowset/OrcCachedRowSetImpl.java:8-15).

Spark-first upgrades vs the reference CSV reader
(manager/file/CsvFileManager.java:204-232, rowset/CsvCachedRowSetImpl.java):
splittable multi-file reads (the reference forces jobs==1,
LocalFileManager.java:112-116), no whole-file buffering (§7.4 quirk), and
schema either declared (columns.types parity) or inferred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from replicadb_spark.types import schema_from_declared_types

# The 11 predefined CSV dialects (manager/file/CsvFileManager.java:38-201),
# mapped onto spark.read.csv options.
CSV_DIALECTS: dict[str, dict[str, str]] = {
    "DEFAULT": {"sep": ",", "quote": '"', "escape": '"', "header": "false"},
    "EXCEL": {"sep": ",", "quote": '"', "escape": '"', "header": "false"},
    "INFORMIX_UNLOAD": {"sep": "|", "quote": '"', "escape": "\\", "header": "false"},
    "INFORMIX_UNLOAD_CSV": {"sep": ",", "quote": '"', "escape": '"', "header": "false"},
    "MONGODB_CSV": {"sep": ",", "quote": '"', "escape": '"', "header": "true"},
    "MONGODB_TSV": {"sep": "\t", "quote": '"', "escape": '"', "header": "true"},
    "MYSQL": {"sep": "\t", "quote": "", "escape": "\\", "header": "false", "nullValue": "\\N"},
    "ORACLE": {"sep": ",", "quote": '"', "escape": "\\", "header": "false"},
    "POSTGRESQL_CSV": {"sep": ",", "quote": '"', "escape": '"', "header": "false", "nullValue": ""},
    "POSTGRESQL_TEXT": {"sep": "\t", "quote": '"', "escape": "\\", "header": "false", "nullValue": "\\N"},
    "RFC4180": {"sep": ",", "quote": '"', "escape": '"', "header": "false"},
    "TDF": {"sep": "\t", "quote": '"', "escape": '"', "header": "false", "ignoreLeadingWhiteSpace": "true"},
}


# The reference's CSV format property grammar (CsvFileManager.java:50-201):
# `format` names a preset, `format.<knob>` overrides one knob. Mapped onto
# spark csv reader/writer options; quoteMode=ALL maps to the writer's
# quoteAll (the only mode Spark exposes; the others are Commons-CSV
# quoting strategies Spark's writer decides internally).
_FORMAT_KEY_MAP = {
    "format.delimiter": "sep",
    "format.quote": "quote",
    "format.escape": "escape",
    "format.nullString": "nullValue",
    "format.recordSeparator": "lineSep",
    "format.firstRecordAsHeader": "header",
}


def csv_options_from_format_params(params: dict) -> dict:
    """``{source|sink}.connect.parameter.format*`` → spark csv options.

    Returns a dict that may include the preset's base options (when
    ``format`` names one of CSV_DIALECTS) overlaid with per-knob
    ``format.*`` overrides — exactly the reference's precedence
    (preset first, then individual withX() calls)."""
    opts: dict = {}
    preset = params.get("format")
    if preset:
        opts.update(CSV_DIALECTS.get(preset.upper(), CSV_DIALECTS["DEFAULT"]))
    for ref_key, spark_key in _FORMAT_KEY_MAP.items():
        if ref_key in params:
            opts[spark_key] = str(params[ref_key])
    if str(params.get("format.quoteMode", "")).upper().strip() == "ALL":
        opts["quoteAll"] = "true"
    if "format.ignoreSurroundingSpaces" in params:
        v = str(params["format.ignoreSurroundingSpaces"])
        opts["ignoreLeadingWhiteSpace"] = v
        opts["ignoreTrailingWhiteSpace"] = v
    return opts


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    dialect: str = "DEFAULT",
    columns: list[str] | None = None,
    column_types: list[str] | None = None,
    **options: str,
) -> DataFrame:
    """CSV scan (S10/S11). ``column_types`` mirrors the mandatory
    ``source.connect.parameter.columns.types`` declared-type list
    (CsvFileManager.java:215-220); without it the schema is inferred
    (a capability upgrade the reference lacks).
    """
    opts = dict(CSV_DIALECTS.get(dialect.upper(), CSV_DIALECTS["DEFAULT"]))
    opts.update({k: str(v) for k, v in options.items()})
    reader = spark.read.options(**opts)
    if column_types is not None:
        if columns is None:
            raise ValueError("columns (names) required when column_types is declared")
        reader = reader.schema(schema_from_declared_types(columns, column_types))
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if columns is not None and column_types is None:
        if opts.get("header", "false").lower() == "true":
            # header supplies names → columns is a projection (S14)
            df = df.select(*columns)
        else:
            # no header → columns supplies the names (reference CSV path)
            df = df.toDF(*columns)
    return df


def read_or_none(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame | None:
    """``path`` read as ``fmt``, or None ONLY when the path does not
    exist (a sink's or a state's first run). Any other failure raises: a
    corrupt or unreadable sink or state must fail loudly, never read as
    empty — an incremental merge would then skip the PK merge and land
    duplicate keys, and a streaming state fold would silently reset."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.format(fmt).load(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str,
    **kwargs,
) -> DataFrame:
    """Format-dispatched file scan: csv/orc/parquet/json/avro."""
    fmt = fmt.lower()
    if fmt == "csv":
        return read_csv(spark, path, **kwargs)
    if fmt in ("orc", "parquet", "json"):
        return spark.read.options(**{k: str(v) for k, v in kwargs.get("options", {}).items()}).format(fmt).load(path)
    if fmt == "avro":
        # spark-avro is an external module; gate like the unimplemented
        # reference ORC reader rather than failing at import time.
        try:
            return spark.read.format("avro").load(path)
        except Exception as exc:  # pragma: no cover - environment-dependent
            raise NotImplementedError("avro reader requires the spark-avro package") from exc
    raise ValueError(f"unsupported source file format: {fmt}")
