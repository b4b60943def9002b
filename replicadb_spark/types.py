"""Type normalization — the reference's only "scalar function" layer.

The reference normalizes every row through per-sink java.sql.Types switch
statements (canonical: manager/OracleManager.java:139-216; SURVEY.md §1.3,
§2.4 T1-T13). Here the same conversions are declarative Column
expressions, so they run inside WholeStageCodegen instead of a per-row
Java switch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# JDBC type-name → Spark type, from the SURVEY §1.3 mapping table.
JDBC_TO_SPARK: dict[str, T.DataType] = {
    "CHAR": T.StringType(), "VARCHAR": T.StringType(), "LONGVARCHAR": T.StringType(),
    "NVARCHAR": T.StringType(), "CLOB": T.StringType(), "XML": T.StringType(),
    "ROWID": T.StringType(), "JSON": T.StringType(), "JSONB": T.StringType(),
    "TINYINT": T.ByteType(), "SMALLINT": T.ShortType(),
    "INTEGER": T.IntegerType(), "INT": T.IntegerType(), "BIGINT": T.LongType(),
    "NUMERIC": T.DecimalType(38, 18), "DECIMAL": T.DecimalType(38, 18),
    "REAL": T.FloatType(), "FLOAT": T.DoubleType(), "DOUBLE": T.DoubleType(),
    "BOOLEAN": T.BooleanType(), "BIT": T.BooleanType(),
    "DATE": T.DateType(),
    # No TIME type in Spark SQL: string passthrough, like the reference
    # treats Oracle INTERVALDS (MongoDBManager.java:266-269).
    "TIME": T.StringType(),
    "TIMESTAMP": T.TimestampType(),
    "TIMESTAMP_WITH_TIMEZONE": T.TimestampType(),
    "INTERVAL": T.StringType(),
    "BINARY": T.BinaryType(), "VARBINARY": T.BinaryType(),
    "LONGVARBINARY": T.BinaryType(), "BLOB": T.BinaryType(),
    "ARRAY": T.ArrayType(T.StringType()),
}


def schema_from_declared_types(names: list[str], type_names: list[str]) -> T.StructType:
    """CSV declared-type schema: ``columns.types=VARCHAR,INTEGER,...``
    (manager/file/CsvFileManager.java:215-220). Unknown type → string,
    matching the reference's getString() fallback (OracleManager.java:213-215).
    """
    if len(names) != len(type_names):
        raise ValueError(f"{len(names)} names vs {len(type_names)} types")
    fields = []
    for name, tn in zip(names, type_names):
        tn_up = tn.strip().upper()
        # Strip precision suffix: DECIMAL(10,2) → DECIMAL
        base = tn_up.split("(")[0].strip()
        if base in ("NUMERIC", "DECIMAL") and "(" in tn_up:
            inner = tn_up[tn_up.index("(") + 1: tn_up.rindex(")")]
            parts = [int(x) for x in inner.split(",")]
            prec, scale = parts[0], (parts[1] if len(parts) > 1 else 0)
            fields.append(T.StructField(name, T.DecimalType(prec, scale), True))
            continue
        fields.append(T.StructField(name, JDBC_TO_SPARK.get(base, T.StringType()), True))
    return T.StructType(fields)


# --- scalar transforms T1-T11 as Column expressions -----------------------

def binary_to_hex(col: Column, prefix: str = "\\x") -> Column:
    """T3 — Postgres COPY hex form ``\\x<hex>`` (PostgresqlManager.java:363-393).

    Pass ``prefix=''`` for the MySQL upper-hex form (MySQLManager.java:369-391).
    """
    h = F.hex(col)
    body = F.lower(h) if prefix else h
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit(prefix), body)
    )


def binary_to_base64(col: Column) -> Column:
    """T4 — Kafka JSON binary encoding (KafkaManager.java:142-148)."""
    return F.base64(col)


def timestamp_to_iso8601(col: Column) -> Column:
    """T5 — Kafka JSON date encoding, ISO-8601 UTC (KafkaManager.java:75-81)."""
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")


def null_normalize(col: Column, null_strings: tuple[str, ...] = ("", "\\N")) -> Column:
    """T6 — empty CSV string / ``\\N`` sentinel → NULL
    (CsvCachedRowSetImpl.java:332-341, PostgresqlManager.java:127-129)."""
    return F.when(col.isin(*null_strings), F.lit(None).cast("string")).otherwise(col)


_TRUE_LEXEMES = ("1", "yes", "true", "on", "y", "t")
_FALSE_LEXEMES = ("0", "no", "false", "off", "n", "f")


def boolean_lexical(col: Column) -> Column:
    """T8 — lexical boolean parse (CsvCachedRowSetImpl.java:323-330)."""
    low = F.lower(F.trim(col))
    return (
        F.when(low.isin(*_TRUE_LEXEMES), F.lit(True))
        .when(low.isin(*_FALSE_LEXEMES), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def epoch_days_to_date(col: Column) -> Column:
    """T9 (time/Conversions.java:17-38)."""
    return F.date_add(F.lit("1970-01-01").cast("date"), col.cast("int"))


def epoch_millis_to_timestamp(col: Column) -> Column:
    """T9 (time/Conversions.java:40-60)."""
    return F.timestamp_millis(col.cast("long"))


def epoch_micros_to_timestamp(col: Column) -> Column:
    """T9 (time/Conversions.java:62-91)."""
    return F.timestamp_micros(col.cast("long"))


def quote_identifier(name: str, quote: str = '"') -> str:
    """T12 — quoted-identifiers option (ConnManager.java:86-115)."""
    return f"{quote}{name.replace(quote, quote * 2)}{quote}"


def normalize_frame(df: DataFrame, target: T.StructType) -> DataFrame:
    """Cast every column of ``df`` to the target schema's type — the
    whole-row normalizing pipe the reference runs per sink (§1.3), as one
    projection Catalyst folds into the scan.
    """
    by_name = {f.name: f.dataType for f in target.fields}
    cols = []
    for f in df.schema.fields:
        want = by_name.get(f.name)
        cols.append(F.col(f.name).cast(want).alias(f.name) if want is not None and want != f.dataType else F.col(f.name))
    return df.select(*cols)
