"""Parquet table catalog over the driver's synthetic star schema.

Plain ``spark.read.parquet`` — column pruning and predicate pushdown
reach the scan automatically because every downstream operator in this
engine is expressed with native Column expressions (check with
``df.explain('formatted')``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at ANY scale factor — only the
# TPC-H constant-cardinality enums qualify (region = 5 rows, nation =
# 25 by spec, independent of SF). load_table stamps these with a
# broadcast hint so every join against them plans broadcast-hash
# regardless of stale size statistics. supplier/customer/part are NOT
# here: they scale linearly with SF (10k/150k/200k × SF), so a forced
# hint — which AQE cannot override — would pin every consumer to a
# driver-side broadcast build at 100 TB. Those joins carry no hint and
# ride size-based planning: broadcast while the side fits the
# threshold, shuffle join beyond (r9 forced-broadcast audit).
BROADCAST_TABLES = frozenset({"region", "nation"})

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Idempotent fallback for driver-provided vanilla sessions —
    ``session.get_spark`` sets this up front; only set at runtime when
    genuinely absent (no per-call global mutation). The "already
    ensured" fact is pinned on the Python session object so the ~200
    load_table call sites don't each pay a py4j conf round-trip."""
    if getattr(spark, "_wa_nanos_conf_ensured", False):
        return
    if spark.conf.get(_NANOS_CONF, "false") != "true":
        spark.conf.set(_NANOS_CONF, "true")
    try:
        spark._wa_nanos_conf_ensured = True
    except Exception:  # pragma: no cover - frozen session wrappers
        pass


# (path, mtime_ns, size) -> inferred StructType. METADATA cache only:
# every load_table call still builds a FRESH scan relation (distinct
# relations keep self-join semantics — reusing one DataFrame object
# for both legs of a join is the DeduplicateRelations hazard fixed in
# embedding_near_dup_pairs) and every action recomputes from parquet.
# What the cache skips is per-call schema INFERENCE (a driver-side
# footer read + analysis pass, ~30-190 ms each measured across the
# ~700 load_table invocations of one bench run) — never data, never
# results. The mtime+size key invalidates when a fixture regenerates.
_SCHEMA_CACHE: dict[tuple[str, int, int], T.StructType] = {}


def _table_schema(spark: SparkSession, path: str) -> T.StructType:
    import os

    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from ``{sf_dir}/{name}.parquet`` with every
    event-time column normalized to a plain TIMESTAMP, whichever
    physical layout the fixture generation used:

    - legacy TIMESTAMP(NANOS) ``ts`` (read as int64 under the
      nanosAsLong conf) → rebuild a microsecond TIMESTAMP with integer
      division (``div`` keeps the full 64 bits; a double would corrupt
      epoch-nanos ~1.7e18, and the floor matches DuckDB's ``epoch_us``
      truncation on the same data);
    - naive ``timestamp[us]`` (Spark 4 reads it as TIMESTAMP_NTZ,
      which ``unix_micros`` / ``session_window`` / numeric casts all
      reject) → cast to TIMESTAMP. Value-exact under the UTC session
      timezone set in ``session.get_spark`` — the wall-clock instants
      are identical, matching DuckDB's naive read of the same parquet.

    The inferred schema is served from ``_SCHEMA_CACHE`` and passed
    explicitly so repeated loads skip footer inference; the
    normalization columns are derived from that cached StructType
    directly (a ``df.schema`` probe on the fresh relation would force
    a second analysis pass per call)."""
    ensure_nanos_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    sch = _table_schema(spark, path)
    df = spark.read.schema(sch).parquet(path)
    for field in sch.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    if name in BROADCAST_TABLES:
        df = F.broadcast(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}
