"""ibis_spark — a PySpark-native analytics engine with the reference's
(ibis-project/ibis) query surface.

Architecture (SURVEY.md §7): three thin layers —
``datatypes``/``schema`` (logical types), ``expr`` (Column/Table veneer
over pyspark expressions), and this Backend (session + IO + DDL). Spark's
logical plan is the IR; Catalyst is the sole optimizer.

Reference entry points mirrored here: ibis.connect / Backend
(ibis/backends/pyspark/__init__.py:164-510), read_parquet :838,
read_csv :871, read_json :914, memtable (expr/api.py:339).
"""

from __future__ import annotations

from typing import Any, Optional

from ibis_spark import datatypes  # noqa: F401
from ibis_spark import udf  # noqa: F401
from ibis_spark.datatypes import dtype  # noqa: F401
from ibis_spark.schema import Schema, schema  # noqa: F401
from ibis_spark.expr import (  # noqa: F401
    Column,
    Deferred,
    Expr,
    GroupedTable,
    Table,
    Window,
    _,
    asc,
    cumulative_window,
    desc,
    exists,
    following,
    literal,
    null,
    param,
    preceding,
    range_window,
    resolve,
    rows_window,
    trailing_range_window,
    trailing_window,
    window,
)
from ibis_spark import selectors  # noqa: F401
from ibis_spark.config import options  # noqa: F401
from ibis_spark.functions import (  # noqa: F401
    array,
    case,
    cases,
    coalesce,
    cume_dist,
    date,
    dense_rank,
    e,
    greatest,
    ifelse,
    integer_range,
    interval,
    least,
    map_,
    now,
    ntile,
    percent_rank,
    pi,
    random,
    rank,
    row_number,
    struct,
    time,
    timestamp,
    timestamp_from_unix,
    timestamp_range,
    today,
    uuid,
)

# ibis spells the map constructor `ibis.map`; keep `map_` too (shadows the
# builtin only inside this namespace, exactly as the reference does)
map = map_  # noqa: A001

# reference api.py:154 — `ibis.deferred` is the `_` placeholder itself
deferred = _

# reference type aliases: our scalar and columnar values share one class
Value = Column
Scalar = Column
from ibis_spark.datatypes import DataType  # noqa: E402,F401

__version__ = "0.6.0"


# -- module-level expression API (reference ibis/expr/api.py) ----------------

def and_(*predicates):
    """ibis.and_ (api.py:729): AND-fold; True when empty."""
    import functools
    import operator

    if not predicates:
        return literal(True)
    return functools.reduce(operator.and_, predicates)


def or_(*predicates):
    """ibis.or_ (api.py:749): OR-fold; False when empty."""
    import functools
    import operator

    if not predicates:
        return literal(False)
    return functools.reduce(operator.or_, predicates)


def join(left: Table, right: Table, predicates=(), how: str = "inner", **kwargs) -> Table:
    """ibis.join (api.py): free-function spelling of Table.join."""
    return left.join(right, predicates, how=how, **kwargs)


def cross_join(left: Table, right: Table, *rest: Table) -> Table:
    out = left.cross_join(right)
    for t in rest:
        out = out.cross_join(t)
    return out


def union(table: Table, *rest: Table, distinct: bool = False) -> Table:
    """ibis.union (api.py:2058)."""
    return table.union(*rest, distinct=distinct) if rest else table


def intersect(table: Table, *rest: Table, distinct: bool = True) -> Table:
    return table.intersect(*rest, distinct=distinct) if rest else table


def difference(table: Table, *rest: Table, distinct: bool = True) -> Table:
    return table.difference(*rest, distinct=distinct) if rest else table


def aggregate(table: Table, metrics=(), by=(), having=(), **kwargs) -> Table:
    """ibis.aggregate: free-function spelling of Table.aggregate."""
    def _listify(x):
        return [x] if not isinstance(x, (list, tuple)) else list(x)

    metrics_l, having_l = _listify(metrics), _listify(having)
    if by:
        g = table.group_by(*_listify(by))
        if having_l:
            g = g.having(*having_l)
        return g.aggregate(*metrics_l, **kwargs)
    if not having_l:
        return table.aggregate(*metrics_l, **kwargs)
    # ungrouped HAVING: filter the 1-row aggregate by evaluating the
    # having aggregates alongside the metrics, then dropping them
    hv = {f"__hv{i}__": h for i, h in enumerate(having_l)}
    out = table.aggregate(*metrics_l, **kwargs, **hv)
    for n in hv:
        out = out.filter(out[n])
    return out.drop(*hv)


def range(start, stop=None, step=1):  # noqa: A001
    """ibis.range (api.py:2328): integer or timestamp range (half-open).
    The reference dispatches on argument type; a non-integer ``step``
    (timedelta or interval expression) selects the timestamp range."""
    import datetime as _dt

    if isinstance(step, _dt.timedelta) or isinstance(step, Column):
        s = timestamp(start) if isinstance(start, str) else start
        e = timestamp(stop) if isinstance(stop, str) else stop
        if isinstance(step, _dt.timedelta):
            step = interval(seconds=int(step.total_seconds()))
        return timestamp_range(s, e, step)
    return integer_range(start, stop, step)


def watermark(time_col: str, allowed_delay):
    """ibis.watermark (api.py:2308): event-time watermark spec for
    streaming sources. ``allowed_delay`` accepts a Spark delay string
    ("10 minutes"), a timedelta, or an ``ibis.interval(...)`` literal."""
    import datetime as _dt

    if isinstance(allowed_delay, _dt.timedelta):
        # milliseconds, not int(seconds): a 500 ms delay must not become 0
        ms = round(allowed_delay.total_seconds() * 1000)
        delay = f"{ms} milliseconds"
    elif isinstance(allowed_delay, str):
        delay = allowed_delay
    else:
        delay = getattr(allowed_delay, "_lit", None)
        if not isinstance(delay, str):
            raise TypeError(
                "allowed_delay must be a delay string, timedelta, or an "
                "ibis.interval(...) literal"
            )
    return (time_col, delay)


_default_backend = None


def set_backend(backend) -> None:
    """ibis.set_backend: set the process-wide default backend (also
    visible as ``ibis.options.default_backend``, like the reference)."""
    global _default_backend
    if isinstance(backend, str):
        raise ValueError(
            "this engine has exactly one backend; pass a Backend instance "
            "(ibis_spark.connect(...))"
        )
    _default_backend = backend
    options.default_backend = backend


def get_backend(expr=None):
    """ibis.get_backend: the expression's backend, or the default one
    (``options.default_backend``, creating a local session-backed Backend
    on first use)."""
    global _default_backend
    if expr is not None:
        return expr.get_backend()
    if options.default_backend is not None:
        return options.default_backend
    if _default_backend is None:
        _default_backend = connect()
        options.default_backend = _default_backend
    return _default_backend


def infer_dtype(value):
    """ibis.infer_dtype (reference dt.infer, expr/datatypes/value.py:33):
    dtype of a python VALUE — smallest fitting integer type, matching the
    reference's rule."""
    import datetime as _dt
    import decimal as _decimal

    if isinstance(value, bool):
        return dtype("boolean")
    if isinstance(value, int):
        for name, lo, hi in (
            ("int8", -(2**7), 2**7 - 1),
            ("int16", -(2**15), 2**15 - 1),
            ("int32", -(2**31), 2**31 - 1),
        ):
            if lo <= value <= hi:
                return dtype(name)
        return dtype("int64")
    if isinstance(value, float):
        return dtype("float64")
    if isinstance(value, str):
        return dtype("string")
    if isinstance(value, bytes):
        return dtype("binary")
    if isinstance(value, _dt.datetime):
        return dtype("timestamp")
    if isinstance(value, _dt.date):
        return dtype("date")
    if isinstance(value, _dt.time):
        return dtype("time")
    if isinstance(value, _dt.timedelta):
        return dtype("interval")
    if isinstance(value, _decimal.Decimal):
        return dtype("decimal")
    if isinstance(value, (list, tuple, set, frozenset)):
        items = list(value)
        inner = infer_dtype(items[0]) if items else dtype("null")
        return datatypes.Array(inner)
    if isinstance(value, dict):
        return datatypes.Struct(
            {k: infer_dtype(v) for k, v in value.items()}
        )
    if value is None:
        return dtype("null")
    raise TypeError(f"cannot infer a dtype for {value!r}")


def infer_schema(obj):
    """ibis.infer_schema: schema of a mapping / pandas / pyarrow object."""
    return schema(obj)


class Backend:
    """Session + IO + DDL manager
    (reference: ibis/backends/pyspark/__init__.py Backend)."""

    def __init__(self, session=None, *, mode: str = "batch", **conf):
        from pyspark.sql import SparkSession

        if session is None:
            builder = SparkSession.builder.appName("ibis_spark")
            for k, v in conf.items():
                builder = builder.config(k, v)
            session = builder.getOrCreate()
        self._session = session
        if mode not in ("batch", "streaming"):
            raise ValueError("mode must be 'batch' or 'streaming'")
        self._mode = mode

    @property
    def spark(self):
        return self._session

    @property
    def mode(self) -> str:
        return self._mode

    # -- sources (PB:838-1306) ------------------------------------------------
    def table(self, name: str) -> Table:
        return Table(self._session.table(name))

    def read_parquet(self, path, table_name: Optional[str] = None) -> Table:
        """Parquet source (PB:838): a file or a directory of files.

        A single local file opens with no Spark job.  pyarrow reads its
        footer once and the reader is handed the schema Spark's own
        inference returns for that file: each column's parquet type
        mapped as Spark maps it, under the session's
        ``spark.sql.parquet.binaryAsString``, ``int96AsTimestamp`` and
        ``inferTimestampNTZ.enabled``.  Spark still infers the schema, at
        one job per read, for directories, globs and non-local paths,
        files Spark wrote (their footer carries Spark's own schema),
        nested columns other than a list of primitives, parquet types
        outside that mapping, and footers pyarrow cannot read.

        Spark reads parquet TIMESTAMP(NANOS) only as raw int64 (the
        legacy ``nanosAsLong`` conf); such columns come back rebuilt as
        TimestampNTZ, floored to the microsecond, from epoch micros via
        interval arithmetic: exact and session-tz-free.  The conf must
        hold whenever the table's plan runs, so reading such a file sets
        ``spark.sql.legacy.parquet.nanosAsLong=true`` on the session and
        leaves it set: a later plain ``spark.read.parquet`` of a NANOS
        file in that session returns bigint instead of failing."""
        if self._mode == "streaming":
            raise NotImplementedError("use read_parquet_dir for streaming mode")
        sch, nanos = _parquet_footer(self._session, path)
        if nanos:
            self._session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        reader = self._session.read
        if sch is not None:
            reader = reader.schema(sch)
        df = reader.parquet(str(path))
        if nanos:
            from pyspark.sql import functions as F

            epoch = F.expr("CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)")
            cols = [
                (
                    epoch
                    + F.expr(
                        f"make_dt_interval(0, 0, 0, "
                        f"CAST((`{c}` - pmod(`{c}`, 1000)) div 1000 AS DECIMAL(20,0))"
                        f" / 1000000)"
                    )
                ).alias(c)
                if c in nanos
                else df[c]
                for c in df.columns
            ]
            df = df.select(*cols)
        if table_name:
            df.createOrReplaceTempView(table_name)
        return Table(df)

    def read_csv(self, path, table_name: Optional[str] = None, **options) -> Table:
        options = {"header": "true", "inferSchema": "true", **options}
        df = self._session.read.options(**options).csv(str(path))
        if table_name:
            df.createOrReplaceTempView(table_name)
        return Table(df)

    def read_json(self, path, table_name: Optional[str] = None, **options) -> Table:
        df = self._session.read.options(**options).json(str(path))
        if table_name:
            df.createOrReplaceTempView(table_name)
        return Table(df)

    def read_delta(self, path, table_name: Optional[str] = None, **options) -> Table:
        df = self._session.read.format("delta").options(**options).load(str(path))
        if table_name:
            df.createOrReplaceTempView(table_name)
        return Table(df)

    # -- streaming sources (PB:1197-1306) ---------------------------------------
    def read_parquet_dir(self, path, schema=None, watermark=None, **options) -> Table:
        reader = self._session.readStream
        if schema is not None:
            reader = reader.schema(_as_spark_schema(schema))
        df = reader.options(**options).parquet(str(path))
        df = _apply_watermark(df, watermark)
        return Table(df)

    def read_csv_dir(self, path, schema=None, watermark=None, **options) -> Table:
        reader = self._session.readStream
        if schema is not None:
            reader = reader.schema(_as_spark_schema(schema))
        df = reader.options(**{"header": "true", **options}).csv(str(path))
        df = _apply_watermark(df, watermark)
        return Table(df)

    def read_json_dir(self, path, schema=None, watermark=None, **options) -> Table:
        reader = self._session.readStream
        if schema is not None:
            reader = reader.schema(_as_spark_schema(schema))
        df = reader.options(**options).json(str(path))
        df = _apply_watermark(df, watermark)
        return Table(df)

    def read_kafka(self, *, bootstrap_servers: str, topic: str, watermark=None, **options) -> Table:
        """Kafka streaming source (PB:1080)."""
        df = (
            self._session.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .options(**options)
            .load()
        )
        df = _apply_watermark(df, watermark)
        return Table(df)

    def to_kafka(self, table: Table, *, bootstrap_servers: str, topic: str, checkpoint: str, **options):
        """Kafka streaming sink (PB:1144) → StreamingQuery."""
        return (
            table.df.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint)
            .options(**options)
            .start()
        )

    # -- memtable (expr/api.py:339; InMemoryTable relations.py:420) ---------------
    def memtable(self, data, schema=None, columns=None) -> Table:
        import pandas as pd
        import pyarrow as pa

        if isinstance(data, pa.Table):
            data = data.to_pandas()
        if isinstance(data, dict):
            data = pd.DataFrame(data)
        elif isinstance(data, (list, tuple)):
            data = pd.DataFrame(data, columns=columns)
        if schema is not None:
            df = self._session.createDataFrame(data, _as_spark_schema(schema))
        else:
            df = self._session.createDataFrame(data)
        return Table(df)

    # -- raw SQL (relations.py:4004) ------------------------------------------------
    def sql(self, query: str) -> Table:
        return Table(self._session.sql(query))

    raw_sql = sql

    # -- DDL (PB:512-795) -------------------------------------------------------------
    def create_table(
        self,
        name: str,
        obj: Table = None,
        *,
        schema=None,
        temp: bool = True,
        overwrite: bool = True,
        partition_by=None,
        bucket_by=None,
        num_buckets: int = 16,
        sort_by=None,
    ) -> Table:
        """Create a (temp view or managed) table (PB:621).

        ``partition_by`` → hive partition directories (partition pruning);
        ``bucket_by``/``num_buckets``(+``sort_by``) → bucketed layout so
        joins and aggregations on the bucket keys need NO shuffle — the
        co-located-join strategy for repeatedly-joined 100 TB tables.
        """
        if obj is None:
            if schema is None:
                raise ValueError("create_table requires `obj` or `schema`")
            # empty table with the given schema (reference create_table
            # with schema=, BB create_table contract)
            obj = Table(
                self._session.createDataFrame([], _as_spark_schema(schema))
            )
        if temp:
            if partition_by or bucket_by:
                raise ValueError("partitioning/bucketing requires temp=False")
            if overwrite:
                obj.df.createOrReplaceTempView(name)
            else:
                obj.df.createTempView(name)
        else:
            w = obj.df.write.mode("overwrite" if overwrite else "error")
            if partition_by:
                pb = [partition_by] if isinstance(partition_by, str) else list(partition_by)
                w = w.partitionBy(*pb)
            if bucket_by:
                bb = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
                w = w.bucketBy(num_buckets, *bb)
                if sort_by:
                    sb = [sort_by] if isinstance(sort_by, str) else list(sort_by)
                    w = w.sortBy(*sb)
            w.saveAsTable(name)
        return self.table(name)

    def create_view(self, name: str, obj: Table, *, overwrite: bool = True) -> Table:
        if overwrite:
            obj.df.createOrReplaceTempView(name)
        else:
            obj.df.createTempView(name)
        return self.table(name)

    def drop_table(self, name: str, *, force: bool = False) -> None:
        self._session.sql(f"DROP TABLE IF EXISTS {name}")

    def drop_view(self, name: str, *, force: bool = False) -> None:
        self._session.catalog.dropTempView(name)

    def list_tables(self) -> list[str]:
        return [t.name for t in self._session.catalog.listTables()]

    def list_databases(self) -> list[str]:
        return [d.name for d in self._session.catalog.listDatabases()]

    def insert(self, name: str, obj: Table, *, overwrite: bool = False) -> None:
        """Append (or overwrite) rows into an existing table (BB insert)."""
        obj.df.write.insertInto(name, overwrite=overwrite)

    def cache_table(self, name: str) -> None:
        self._session.catalog.cacheTable(name)

    # -- catalog / database management (reference BaseBackend surface) --------
    def create_database(self, name: str, *, force: bool = False) -> None:
        clause = "IF NOT EXISTS " if force else ""
        self._session.sql(f"CREATE DATABASE {clause}{name}")

    def drop_database(self, name: str, *, force: bool = False) -> None:
        clause = "IF EXISTS " if force else ""
        self._session.sql(f"DROP DATABASE {clause}{name}")

    @property
    def current_database(self) -> str:
        return self._session.catalog.currentDatabase()

    @property
    def current_catalog(self) -> str:
        return self._session.catalog.currentCatalog()

    def list_catalogs(self) -> list[str]:
        return [c.name for c in self._session.catalog.listCatalogs()]

    def get_schema(self, name: str) -> Schema:
        """Schema of a catalog table without reading it."""
        return self.table(name).schema()

    def rename_table(self, old_name: str, new_name: str) -> None:
        self._session.sql(f"ALTER TABLE {old_name} RENAME TO {new_name}")

    def compute_stats(self, name: str, *, noscan: bool = False) -> None:
        """ANALYZE TABLE ... COMPUTE STATISTICS — feeds the cost-based
        optimizer (join reordering, broadcast decisions) exactly where a
        100 TB deployment wants it."""
        suffix = " NOSCAN" if noscan else ""
        self._session.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS{suffix}")

    @property
    def tables(self):
        """Accessor: ``con.tables.lineitem`` / ``con.tables["x"]`` /
        iteration over names (reference TablesAccessor)."""
        return _TablesAccessor(self)

    @property
    def version(self) -> str:
        return self._session.version

    def execute(self, expr):
        """Backend.execute: run an expression built on this session."""
        return expr.execute()

    def compile(self, expr):
        """Backend.compile: our compiled form is the Spark plan."""
        return expr.compile()

    def has_operation(self, name: str) -> bool:
        """Whether an operation (reference op class name or snake_case
        user-API name) is supported: resolved against the Column/Table
        method surface."""
        import re as _re

        from ibis_spark.expr.column import Column as _C

        snake = _re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()
        cands = {name, snake}
        parts = snake.split("_")
        if len(parts) > 1:
            # op classes carry a type prefix the method drops
            # (StringLength → length, ArrayDistinct → array_distinct/unique)
            cands.add("_".join(parts[1:]))
        return any(
            hasattr(cls, n) for cls in (_C, Table) for n in cands
        )

    def do_connect(self, session=None, **conf) -> "Backend":
        """Reference Backend.do_connect: (re)bind this Backend to a
        SparkSession."""
        if session is not None:
            self._session = session
        return self

    @classmethod
    def from_connection(cls, session, **kwargs) -> "Backend":
        return cls(session, **kwargs)

    def reconnect(self) -> "Backend":
        return self

    def disconnect(self) -> None:
        """Stop the underlying SparkSession."""
        self._session.stop()

    # -- sinks (BB:479-629) --------------------------------------------------------------
    def to_parquet(self, table: Table, path: str, **options) -> None:
        table.to_parquet(path, **options)

    def to_csv(self, table: Table, path: str, **options) -> None:
        table.to_csv(path, **options)

    def to_json(self, table: Table, path: str, **options) -> None:
        table.to_json(path, **options)

    def to_foreach_batch(
        self,
        table: Table,
        fn,
        *,
        checkpoint: Optional[str] = None,
        trigger_available_now: bool = False,
        **options,
    ):
        """Streaming escape hatch: run ``fn(batch_table, batch_id)`` on
        each micro-batch (Spark ``foreachBatch``). The callable receives
        the micro-batch as a (batch) Table, so the whole ibis_spark API —
        incl. batch-only ops — applies per batch; the canonical recipe for
        sinks Spark lacks a streaming writer for."""

        def adapter(batch_df, batch_id):
            fn(Table(batch_df), batch_id)

        w = table.df.writeStream.foreachBatch(adapter).options(**options)
        if checkpoint is not None:
            w = w.option("checkpointLocation", checkpoint)
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def to_parquet_dir(self, table: Table, path: str, *, checkpoint: str, **options):
        """Streaming parquet sink (PB:1376) → StreamingQuery."""
        return (
            table.df.writeStream.format("parquet")
            .option("path", str(path))
            .option("checkpointLocation", checkpoint)
            .options(**options)
            .start()
        )

    def to_csv_dir(self, table: Table, path: str, *, checkpoint: str, **options):
        return (
            table.df.writeStream.format("csv")
            .option("path", str(path))
            .option("checkpointLocation", checkpoint)
            .options(**options)
            .start()
        )

    def disconnect(self) -> None:
        self._session.stop()


def connect(session=None, **conf) -> Backend:
    """Create a Backend from an existing SparkSession (or build one)."""
    return Backend(session, **conf)


def memtable(data, schema=None, columns=None) -> Table:
    """Module-level memtable using the active session (expr/api.py:339)."""
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is None:
        raise RuntimeError("no active SparkSession; use connect(...).memtable")
    return Backend(session).memtable(data, schema=schema, columns=columns)


def _apply_watermark(df, watermark):
    """Attach an event-time watermark; Spark requires TIMESTAMP (not NTZ)
    event time, so NTZ columns are cast first (session tz applies)."""
    if watermark is None:
        return df
    col, delay = watermark
    from pyspark.sql import types as st

    if isinstance(df.schema[col].dataType, st.TimestampNTZType):
        df = df.withColumn(col, df[col].cast("timestamp"))
    return df.withWatermark(col, delay)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _parquet_footer(session, path):
    """Read the parquet footer at ``path`` once with pyarrow (metadata IO
    only, no data scan).  Returns ``(schema, nanos)``: the StructType
    Spark's inference gives the file, or None where Spark must infer it;
    and the names of the top-level INT64 TIMESTAMP(NANOS) columns (for a
    directory, those of its first file), which read_parquet rebuilds."""
    import builtins
    import functools
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(path)
    single = os.path.isfile(p)
    if os.path.isdir(p):
        files = sorted(
            f for f in os.listdir(p) if f.endswith(".parquet") and not f.startswith("_")
        )
        if not files:
            return None, set()
        p = os.path.join(p, files[0])
    elif not single:
        return None, set()
    try:
        with pq.ParquetFile(p) as pf:
            leaves = [pf.schema.column(i) for i in builtins.range(pf.metadata.num_columns)]
            types = [json.loads(c.logical_type.to_json()) for c in leaves]
            spark_written = _SPARK_SCHEMA_KEY in (pf.metadata.metadata or {})
            arrow = pf.schema.to_arrow_schema()
    except (OSError, ValueError, pa.ArrowException):
        return None, set()
    nanos = {
        c.name
        for c, lt in zip(leaves, types)
        # a leaf whose path is its own name and never repeats is a
        # top-level column; the others sit inside a group
        if c.path == c.name
        and c.max_repetition_level == 0
        and c.physical_type == "INT64"
        and lt.get("timeUnit") == "nanoseconds"
    }
    # Spark's inference returns the schema a Spark-written footer stores,
    # which the type mapping below need not reproduce
    if not single or spark_written:
        return None, nanos
    from pyspark.sql import types as st

    @functools.cache
    def conf(key):
        return session.conf.get(f"spark.sql.parquet.{key}").lower() == "true"

    fields = []
    # a primitive, or a list of primitives, holds exactly one leaf: the
    # walk stays aligned with the leaves up to the first other nested type
    for f, c, lt in zip(arrow, leaves, types):
        if not pa.types.is_nested(f.type):
            t = st.LongType() if f.name in nanos else _parquet_leaf_type(c, lt, conf)
        elif (
            pa.types.is_list(f.type) or pa.types.is_large_list(f.type)
        ) and not pa.types.is_nested(f.type.value_type):
            t = _parquet_leaf_type(c, lt, conf)
            t = None if t is None else st.ArrayType(t, True)
        else:
            t = None
        if t is None:
            return None, nanos
        # file sources read every column as nullable (asNullable)
        fields.append(st.StructField(f.name, t, True))
    return st.StructType(fields), nanos


def _parquet_leaf_type(col, lt, conf):
    """The Spark type Spark's parquet schema converter gives the flat
    column ``col`` of logical type ``lt`` (pyarrow's JSON form), or None
    for a type outside this table.  ``conf(key)`` reads the boolean
    session setting ``spark.sql.parquet.<key>``."""
    from pyspark.sql import types as st

    phys, kind = col.physical_type, lt["Type"]
    if kind == "None":
        if phys == "BYTE_ARRAY":
            return st.StringType() if conf("binaryAsString") else st.BinaryType()
        if phys == "INT96":
            return st.TimestampType() if conf("int96AsTimestamp") else None
        plain = {
            "BOOLEAN": st.BooleanType,
            "INT32": st.IntegerType,
            "INT64": st.LongType,
            "FLOAT": st.FloatType,
            "DOUBLE": st.DoubleType,
        }.get(phys)
        return plain() if plain else None
    if kind == "Decimal":
        return st.DecimalType(col.precision, col.scale) if col.precision <= 38 else None
    if kind == "String" and phys == "BYTE_ARRAY":
        return st.StringType()
    if kind == "Date" and phys == "INT32":
        return st.DateType()
    if kind == "Int" and lt["isSigned"]:
        signed = {
            ("INT32", 8): st.ByteType,
            ("INT32", 16): st.ShortType,
            ("INT32", 32): st.IntegerType,
            ("INT64", 64): st.LongType,
        }.get((phys, lt["bitWidth"]))
        return signed() if signed else None
    if kind == "Timestamp" and phys == "INT64" and lt["timeUnit"] != "nanoseconds":
        if lt["isAdjustedToUTC"] or not conf("inferTimestampNTZ.enabled"):
            return st.TimestampType()
        return st.TimestampNTZType()
    return None


def _as_spark_schema(s):
    from pyspark.sql import types as st

    if isinstance(s, st.StructType):
        return s
    if isinstance(s, Schema):
        return s.to_spark()
    if isinstance(s, dict):
        return schema(s).to_spark()
    raise TypeError(f"cannot interpret {s!r} as a schema")


class _TablesAccessor:
    """``con.tables`` — attribute/item access to catalog tables plus
    iteration over their names (reference TablesAccessor,
    ibis/backends/__init__.py)."""

    __slots__ = ("_con",)

    def __init__(self, con: Backend):
        self._con = con

    def __getattr__(self, name: str) -> Table:
        try:
            return self._con.table(name)
        except Exception as e:  # pragma: no cover - passthrough
            raise AttributeError(name) from e

    def __getitem__(self, name: str) -> Table:
        return self._con.table(name)

    def __iter__(self):
        return iter(self._con.list_tables())

    def __len__(self) -> int:
        return len(self._con.list_tables())


# reference-compatible aliases (ibis/__init__.py exports)
BaseBackend = Backend
