"""S4/S5: JDBC sink + scan, and the parquet native store.

Reference loads four tables into Postgres via SQLAlchemy ``to_sql(...,
if_exists='replace')`` (/root/reference/etl.py:711-719) and the dashboard
pulls whole tables back (interactive_dashboard.py:23-27). The engine keeps
JDBC as a *connector* and parquet as the native store.

Scale policy (SURVEY §4.3.4): cap writer parallelism (``numPartitions``) so
a 1000-executor job doesn't open 1000 connections; batched inserts;
``truncate=true`` on overwrite preserves DDL. Reads push a partitioned
predicate when a numeric partition column is supplied.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Spark JDBC PostgresDialect mapping (what df.write.jdbc emits for a
# postgresql:// URL), which also matches what the reference's pandas
# to_sql(engine) produces for these tables: object→TEXT, float64→DOUBLE
# PRECISION, datetime64→TIMESTAMP, boolean→BOOLEAN
# (/root/reference/etl.py:711-719, docker-compose Postgres 15).
_PG_TYPES: list[tuple[type, str]] = [
    (T.StringType, "TEXT"),
    (T.DoubleType, "DOUBLE PRECISION"),
    (T.FloatType, "REAL"),
    (T.LongType, "BIGINT"),
    (T.IntegerType, "INTEGER"),
    (T.ShortType, "SMALLINT"),
    (T.ByteType, "SMALLINT"),
    (T.BooleanType, "BOOLEAN"),
    (T.TimestampType, "TIMESTAMP"),
    (T.TimestampNTZType, "TIMESTAMP"),
    (T.DateType, "DATE"),
    (T.BinaryType, "BYTEA"),
]


def postgres_type(dt: T.DataType) -> str:
    """Postgres column type for a Spark type, per Spark's PostgresDialect."""
    if isinstance(dt, T.DecimalType):
        return f"NUMERIC({dt.precision},{dt.scale})"
    for spark_t, pg_t in _PG_TYPES:
        if isinstance(dt, spark_t):
            return pg_t
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        # nested values are serialized with to_json before the JDBC write
        # (F13 row→JSON policy), so the column Spark actually ships is a
        # StringType and lands as TEXT — match that, not an aspirational
        # JSONB (Spark's PostgresDialect would otherwise map ArrayType to
        # a PG array and reject Map/Struct outright)
        return "TEXT"
    raise TypeError(f"no Postgres mapping for Spark type {dt.simpleString()}")


def postgres_ddl(df: DataFrame, table: str) -> str:
    """CREATE TABLE statement the JDBC overwrite path issues against
    Postgres for this DataFrame — the dialect contract the reference's
    to_sql(..., if_exists='replace') relies on, made assertable without a
    live server."""
    cols = ",\n  ".join(
        f'"{f.name}" {postgres_type(f.dataType)}' for f in df.schema.fields
    )
    return f'CREATE TABLE "{table}" (\n  {cols}\n)'


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    properties: dict[str, str] | None = None,
    mode: str = "overwrite",
    num_partitions: int = 8,
    batchsize: int = 10_000,
) -> None:
    props = dict(properties or {})
    props.setdefault("batchsize", str(batchsize))
    props.setdefault("truncate", "true")
    df.coalesce(num_partitions).write.mode(mode).options(**props).jdbc(
        url, table, properties=props
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    reader = spark.read
    if partition_column is not None:
        return reader.jdbc(
            url,
            table,
            column=partition_column,
            lowerBound=lower_bound,
            upperBound=upper_bound,
            numPartitions=num_partitions,
            properties=properties or {},
        )
    return reader.jdbc(url, table, properties=properties or {})


def execute_jdbc(
    spark: SparkSession,
    url: str,
    sql: str,
    *,
    properties: dict[str, str] | None = None,
) -> None:
    """Run one server-side DDL/DML statement through the JVM's
    DriverManager — the same classpath and driver Spark's JDBC source
    uses, so anything write_jdbc can reach, this can too. Needed for
    the statements Spark's writer cannot express (MERGE, index DDL)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        st = conn.createStatement()
        try:
            st.execute(sql)
        finally:
            st.close()
    finally:
        conn.close()


def upsert_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    *,
    staging_table: str | None = None,
    properties: dict[str, str] | None = None,
    num_partitions: int = 8,
) -> str:
    """Keyed MERGE into a JDBC table: the delta lands in a staging table
    (plain overwrite — safe to retry), then ONE atomic server-side
    MERGE updates matches and inserts the rest. Idempotent end to end:
    re-running the whole call (or just the MERGE after a driver crash)
    converges to the same table state, which a mode='append' write can
    never promise — this is the exactly-once JDBC sink recipe.

    Quoting matches what Spark's writer actually created: COLUMN names
    are dialect-quoted (JdbcUtils quotes them in CREATE TABLE), TABLE
    names are passed through unquoted (Spark embeds them verbatim, so
    the server applies its own case folding). Returns the MERGE statement
    it executed (also handy for dry-run inspection/tests). The target
    table must exist; create it with write_jdbc(mode='overwrite') or
    DDL from postgres_ddl."""
    staging = staging_table or f"{table}_staging"
    write_jdbc(
        df,
        url,
        staging,
        properties=properties,
        mode="overwrite",
        num_partitions=num_partitions,
    )
    cols = df.columns
    value_cols = [c for c in cols if c not in keys]
    on = " AND ".join(f't."{k}" = s."{k}"' for k in keys)
    sets = ", ".join(f'"{c}" = s."{c}"' for c in value_cols)
    ins_cols = ", ".join(f'"{c}"' for c in cols)
    ins_vals = ", ".join(f's."{c}"' for c in cols)
    merge = (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )
    execute_jdbc(df.sparkSession, url, merge, properties=properties)
    return merge
