"""TableEnvironment-like catalog facade.

Reference equivalents:
- catalog registration: flink-table-common/.../catalog/Catalog.java:51
- DDL with watermark:   flink-sql-parser/.../ddl/SqlCreateTable.java:56,
                        SqlWatermark.java:39

Here a "catalog" is just temp views over the driver-generated parquet
tables, plus a watermark registry: Flink attaches the watermark to the
table definition (DDL), Spark attaches it to the DataFrame at read
time — ``watermarked()`` bridges the two styles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Flink-style table → (rowtime column, bounded out-of-orderness) from
# the WATERMARK FOR ... AS ... - INTERVAL DDL clause.
WATERMARKS: dict[str, tuple[str, str]] = {
    "events": ("ts", "10 minutes"),
}


# Event-time columns whose parquet layout has varied across testdata
# generations: TIMESTAMP(NANOS) (read as long under nanosAsLong) and
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ —
# the current layout). Batch reads normalize BOTH to TIMESTAMP_NTZ:
# naive timestamps, matching exactly what DuckDB's oracle sees.
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _convert_nano_ts(df: DataFrame, name: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for col in NANO_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            # integer div: nanos exceed 2^53, double division loses 1µs.
            # timestamp_micros yields TIMESTAMP; session TZ is pinned
            # UTC, so the NTZ cast keeps the same wall-clock value.
            df = df.withColumn(
                col,
                F.expr(f"timestamp_micros({col} div 1000)")
                .cast("timestamp_ntz"))
    return df


def instant_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (an instant).

    ``withWatermark`` requires TimestampType
    ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE] otherwise) — the analogue of
    the reference requiring a rowtime attribute (TimestampKind.ROWTIME)
    before assigning watermarks. The session timezone is pinned UTC
    (session.py), so the instant's UTC wall-clock equals the naive
    value: the cast is a pure type change, lossless either way.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    cols = [f.name for f in df.schema.fields
            if isinstance(f.dataType, TimestampNTZType)]
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _naive_type(dt):
    from pyspark.sql.types import (ArrayType, MapType, StructField,
                                   StructType, TimestampNTZType,
                                   TimestampType)
    if isinstance(dt, TimestampType):
        return TimestampNTZType()
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _naive_type(f.dataType), f.nullable)
            for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_naive_type(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(_naive_type(dt.keyType), _naive_type(dt.valueType),
                       dt.valueContainsNull)
    return dt


def naive_timestamps(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP back to TIMESTAMP_NTZ, recursing into structs
    (window bounds), arrays and maps.

    Inverse of :func:`instant_timestamps`: streaming operators run on
    instants (watermark requirement), but results are compared against
    batch plans and the DuckDB oracle, both naive. Under the UTC
    session timezone the cast is value-preserving, and collecting NTZ
    is independent of the driver's OS timezone — TimestampType's
    Python conversion is not.
    """
    from pyspark.sql import functions as F

    cols, changed = [], False
    for f in df.schema.fields:
        nt = _naive_type(f.dataType)
        if nt != f.dataType:
            cols.append(F.col(f.name).cast(nt).alias(f.name))
            changed = True
        else:
            cols.append(F.col(f.name))
    return df.select(*cols) if changed else df


# Session confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)

# realpath -> (file signature, _SCHEMA_CONFS values, inferred StructType)
_SCHEMAS: dict[str, tuple] = {}


def _file_signature(path: str) -> tuple:
    """``(st_mtime_ns, st_size)`` of a file, or of every file under a
    directory, so a rewrite at the same path changes it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    sig = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            sig.append((os.path.relpath(os.path.join(root, f), path),
                        st.st_mtime_ns, st.st_size))
    return tuple(sig)


def _parquet_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` infers, resolved once per
    file and conf (Catalog.java:51 resolves it at registration).

    Inference launches a Spark job; a hit launches none. Paths that are
    not local files (object stores, globs) are inferred on every call.
    """
    real = os.path.realpath(path)
    if not os.path.exists(real):
        return spark.read.parquet(path).schema
    sig = _file_signature(real)
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[:2] == (sig, confs):
        return hit[2]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[real] = (sig, confs, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table (BatchExecTableSourceScan.scala:45 analogue).

    A plain parquet scan: column pruning, predicate pushdown and
    partition pruning all come from the DataSource V2 path — the
    reference needed explicit Supports*PushDown contracts
    (flink-table-common/.../abilities/) for the same thing.

    The schema is resolved once per file and conf, as the reference
    resolves it at registration (Catalog.java:51), and passed to the
    reader, so a repeated load runs no schema-inference job. The cache
    key is the file's real path; an entry is reused only while the
    file's ``(st_mtime_ns, st_size)`` (every file's, for a directory)
    and the session's parquet-inference confs (``_SCHEMA_CONFS``) are
    unchanged. Each call still returns a new DataFrame.
    """
    path = f"{sf_dir}/{name}.parquet"
    return _convert_nano_ts(
        spark.read.schema(_parquet_schema(spark, path)).parquet(path), name)


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TPCH_TABLES) -> None:
    """Register every testdata table as a temp view for spark.sql()."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def watermarked(df: DataFrame, table: str) -> DataFrame:
    """Apply the DDL-declared watermark to a (streaming) DataFrame.

    Flink: WATERMARK FOR ts AS ts - INTERVAL '10' MINUTE (bounded
    out-of-orderness, BoundedOutOfOrdernessWatermarks.java:37).
    Spark: withWatermark — same bounded-delay semantics, evaluated
    as a global minimum across partitions per micro-batch.
    """
    if table in WATERMARKS:
        col, delay = WATERMARKS[table]
        return df.withWatermark(col, delay)
    return df


class TableEnvironment:
    """TableEnvironment facade — SURVEY §3.1/§3.2.

    The reference's entry point (TableEnvironmentImpl.java:663
    sqlQuery / :683 executeSql) boils down to: a catalog of named
    tables, registered functions, and a SQL front door. Spark already
    is that; this class pins the API shape so reference users can
    port call sites mechanically:

        env = TableEnvironment(spark, sf_dir)
        env.sql_query("SELECT SPLIT_INDEX(c_name, '#', 1) FROM customer")
    """

    def __init__(self, spark: SparkSession, sf_dir: str,
                 tables: tuple[str, ...] = TPCH_TABLES):
        from .functions.scalar import register_sql_functions
        self.spark = spark
        self.sf_dir = sf_dir
        register_views(spark, sf_dir, tables)
        register_sql_functions(spark)

    def sql_query(self, sql: str) -> DataFrame:
        """Table tableEnv.sqlQuery(...) — pure query, returns a Table.

        Accepts the Flink SQL dialect: TUMBLE/HOP/SESSION group
        windows, their _START/_END auxiliaries, and proc-time
        FOR SYSTEM_TIME AS OF are translated to Spark SQL first
        (plans/flink_sql.py); event-time FOR SYSTEM_TIME AS OF is
        routed to the as-of join operator (the reference's
        LogicalCorrelateToJoinFromTemporalTableRule rewrite);
        MATCH_RECOGNIZE queries are parsed and routed to the CEP
        engine (plans/match_recognize.py).
        """
        from .plans.flink_sql import (event_time_temporal_join,
                                      translate_flink_sql)
        if "MATCH_RECOGNIZE" in sql.upper():
            from .plans.match_recognize import match_recognize
            return match_recognize(self.spark, sql)
        if "FOR SYSTEM_TIME AS OF" in sql.upper():
            routed = event_time_temporal_join(self.spark, sql)
            if routed is not None:
                return routed
        return self.spark.sql(translate_flink_sql(sql))

    def execute_sql(self, sql: str) -> DataFrame:
        """tableEnv.executeSql(...) — DDL/DML passthrough (eagerly
        executed by Spark for DDL, lazily for queries).

        Accepts the reference's `WATERMARK FOR col AS col - INTERVAL
        'n' UNIT` clause in CREATE TABLE (SqlCreateTable.java:56,
        SqlWatermark.java:39): the clause is stripped for Spark's
        parser and recorded in the WATERMARKS registry, which
        scan_stream applies as withWatermark — DDL text from a
        reference deployment runs unchanged.
        """
        import re as _re
        wm = _re.search(
            r",?\s*WATERMARK\s+FOR\s+(\w+)\s+AS\s+\w+\s*-\s*"
            r"INTERVAL\s+'(\d+)'\s+(\w+)", sql, _re.IGNORECASE)
        if wm:
            name_m = _re.search(r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+"
                                r"(?:IF\s+NOT\s+EXISTS\s+)?(\w+)",
                                sql, _re.IGNORECASE)
            if name_m:
                unit = wm.group(3).lower()
                unit = unit if unit.endswith("s") else unit + "s"
                WATERMARKS[name_m.group(1)] = (
                    wm.group(1), f"{wm.group(2)} {unit}")
            sql = sql[:wm.start()] + sql[wm.end():]
        return self.spark.sql(sql)

    def create_statement_set(self) -> "StatementSet":
        """tableEnv.createStatementSet() — several INSERTs submitted
        as ONE job (StatementSetImpl; the multi-sink plan the Blink
        optimizer builds via common-subgraph reuse)."""
        return StatementSet(self)

    def explain_sql(self, sql: str, mode: str = "formatted") -> str:
        """tableEnv.explainSql — the optimized physical plan text."""
        df = self.sql_query(sql)
        je = df._jdf.queryExecution()
        m = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString(mode)
        return je.explainString(m)

    def from_path(self, name: str) -> DataFrame:
        """tableEnv.from("name") — catalog lookup."""
        return self.spark.table(name)

    def create_temporary_view(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def scan(self, name: str):
        """tableEnv.scan("name") → fluent Table (Table API facade,
        SURVEY §3.2; table.py maps Table.java:106-1072)."""
        from .table import Table
        return Table(self.spark.table(name))

    def scan_stream(self, name: str) -> DataFrame:
        """Unbounded scan of a catalog table with its DDL watermark
        (StreamExecTableSourceScan + WATERMARK clause)."""
        raw_schema = _parquet_schema(
            self.spark, f"{self.sf_dir}/{name}.parquet")
        # file-stream sources take a directory; glob-filter to the table
        df = (self.spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", f"{name}.parquet")
              .parquet(self.sf_dir))
        # watermark needs an instant-typed rowtime column (NTZ rejected)
        return watermarked(
            instant_timestamps(_convert_nano_ts(df, name)), name)


class StatementSet:
    """Multi-sink statement set — StatementSetImpl / SURVEY §3.

    The reference compiles every added INSERT into one job graph with
    common-subgraph reuse. Spark has no cross-action plan sharing, so
    sharing happens at the granularity this layer can prove: sinks
    whose input plans are semantically identical (df.sameSemantics)
    form one group. Batch: each group's plan is computed ONCE
    (persist → write every path → unpersist). Streaming: each group
    runs as ONE foreachBatch query that persists the micro-batch once
    and fans it out to every sink path. Groups with genuinely
    different plans execute as independent writes/queries — Spark's
    native multi-sink execution."""

    def __init__(self, env: TableEnvironment):
        self.env = env
        self._sinks: list[tuple[DataFrame, str]] = []

    def add_insert(self, path: str, df_or_sql) -> "StatementSet":
        df = (self.env.sql_query(df_or_sql)
              if isinstance(df_or_sql, str) else df_or_sql)
        self._sinks.append((df, path))
        return self

    def _groups(self) -> list[tuple[DataFrame, list[str]]]:
        """Group sink paths by semantically-identical input plan."""
        groups: list[tuple[DataFrame, list[str]]] = []
        for df, path in self._sinks:
            for gdf, paths in groups:
                if df.sameSemantics(gdf):
                    paths.append(path)
                    break
            else:
                groups.append((df, [path]))
        return groups

    def execute(self):
        streaming = [s for s in self._sinks if s[0].isStreaming]
        if not streaming:
            for df, paths in self._groups():
                if len(paths) > 1:
                    df.persist()
                try:
                    for path in paths:
                        df.write.mode("overwrite").parquet(path)
                finally:
                    if len(paths) > 1:
                        df.unpersist()
            return None
        if len(streaming) != len(self._sinks):
            raise ValueError("statement set mixes batch and streaming")

        def fanout(paths):
            def write_batch(batch_df, _epoch):
                if len(paths) > 1:
                    batch_df.persist()
                try:
                    for p in paths:
                        batch_df.write.mode("append").parquet(p)
                finally:
                    if len(paths) > 1:
                        batch_df.unpersist()
            return write_batch

        return [df.writeStream
                .foreachBatch(fanout(paths))
                .option("checkpointLocation", f"{paths[0]}/_ckpt")
                .start()
                for df, paths in self._groups()]
