"""Physical-layout helpers: bucketing (co-located joins) and
partitioned writes (partition pruning).

At 100 TB the shuffle for a fact×fact join dominates; pre-bucketing
both sides on the join key at write time removes it entirely — Spark
reads co-located buckets and plans SortMergeJoin with NO exchange.
Likewise a date/key-partitioned layout turns time-range predicates
into directory pruning (``PartitionFilters`` in the scan, zero IO for
excluded partitions). Both are write-once/read-many trades, the right
default for fact tables a fleet of queries will join or slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table.

    ``sortBy`` on the bucket key lets SortMergeJoin skip its sort as
    well — the join becomes a pure zip of co-located streams.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Directory-partitioned parquet layout (hive-style ``col=value``
    paths); predicates on partition columns prune at planning time."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


# (session, abs sf_dir, specs digest, fixture fingerprint) → tuple of
# fully-qualified table names; the bucketed layout is written once per
# session+fixture+spec-set and shared by every layout-family consumer.
# Cache hits re-validate against the session's catalog because
# id(spark) can be REUSED after a session is garbage-collected
# (CPython id recycling) — a stale hit would otherwise hand a new
# session table names its in-memory catalog never saw. The fixture
# FINGERPRINT (mtime+size of every data file under sf_dir) is part of
# the key so a regenerated fixture re-stages instead of silently
# serving tables built from the previous round's data — the
# streaming.replay._prepare_replay_input convention.
_BUCKETED_CACHE: dict = {}


def staging_tag(sf_dir: str, specs_digest: str = "") -> str:
    """The isolation tag ``ensure_bucketed_tables`` derives for a
    fixture dir: basename (dots/dashes → underscores — valid database
    identifier), a short hash of the ABSOLUTE path (two fixtures with
    equal basenames must not collide) salted with the spec-set digest
    (two different spec sets must not overwrite each other's
    same-named tables), and the pid (two processes staging the same
    fixture must not race each other's DROP/rmtree/rewrite under a
    shared /tmp location). Exposed so tests locate the staged files
    WITHOUT re-deriving the format by hand."""
    import hashlib
    import os

    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return "{}_{}_{}".format(
        base.replace(".", "_").replace("-", "_"),
        hashlib.md5(
            (os.path.abspath(sf_dir) + "\x00" + specs_digest).encode()
        ).hexdigest()[:8],
        os.getpid(),
    )


def _fixture_fingerprint(sf_dir: str) -> tuple:
    """(relpath, mtime_ns, size) of every data file under ``sf_dir``
    — the cache-freshness key: fixtures regenerate between rounds,
    and a bucketed layout staged from the PREVIOUS file set must not
    satisfy reads against the new one (the oracle reads the new files
    directly, so a stale hit is a spurious gate failure)."""
    import os

    out = []
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out.append((os.path.relpath(p, sf_dir), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


_CLEANUP_REGISTERED = False


def _register_staging_cleanup() -> None:
    """atexit removal of THIS pid's staged databases (the tag embeds
    the pid, so concurrent stagers never delete each other's dirs) —
    the plans/webanalytics._stage_dir precedent: without it every run
    orphans its bucketed staging tree under /tmp."""
    global _CLEANUP_REGISTERED
    if _CLEANUP_REGISTERED:
        return
    import atexit
    import glob
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "spark_graft_bucketed")
    pid = os.getpid()

    def _cleanup() -> None:
        for d in glob.glob(os.path.join(root, f"*_{pid}")):
            shutil.rmtree(d, ignore_errors=True)

    atexit.register(_cleanup)
    _CLEANUP_REGISTERED = True


def ensure_bucketed_tables(
    spark: SparkSession,
    sf_dir: str,
    specs,
) -> tuple:
    """Write-once/read-many staging for bucketed managed tables.

    ``specs`` is an iterable of ``(table, build_fn, bucket_col,
    n_buckets)`` where ``build_fn(spark, sf_dir)`` returns the
    DataFrame to persist. Each table is repartitioned on its bucket
    column into ``n_buckets`` partitions first (same murmur3 pmod as
    the bucket spec → exactly ONE file per bucket, the precondition
    for trusting bucket sort on read) and written via
    ``write_bucketed``. Returns the fully-qualified table names.

    Isolation: see ``staging_tag`` (fixture basename + path/spec hash
    + pid). The cache key carries a digest of the requested specs
    (table names, bucket cols, bucket counts) so two callers with
    DIFFERENT spec sets for the same session+fixture stage into
    different databases instead of the second silently receiving the
    first's tables, plus the fixture file fingerprint so regenerated
    parquet re-stages. Leftover directories from a dead same-pid run
    are dropped before rewrite (managed-table locations outlive the
    in-memory catalog and would raise LOCATION_ALREADY_EXISTS)."""
    import hashlib
    import os
    import shutil
    import tempfile

    specs = list(specs)
    specs_digest = hashlib.md5(
        repr([(t, c, n) for t, _fn, c, n in specs]).encode()
    ).hexdigest()[:8]
    key = (
        id(spark),
        os.path.abspath(sf_dir),
        specs_digest,
        _fixture_fingerprint(sf_dir),
    )
    hit = _BUCKETED_CACHE.get(key)
    if hit is not None and all(spark.catalog.tableExists(t) for t in hit):
        return hit
    # evict entries this staging supersedes (same session+path+digest,
    # older fingerprint) — the rewrite below replaces their tables, so
    # a long-lived session regenerating fixtures doesn't accumulate
    # dict entries pointing at clobbered state
    for stale in [o for o in _BUCKETED_CACHE if o[:3] == key[:3] and o != key]:
        del _BUCKETED_CACHE[stale]
    tag = staging_tag(sf_dir, specs_digest)
    db = f"spark_graft_bucketed_{tag}"
    loc = os.path.join(tempfile.gettempdir(), "spark_graft_bucketed", tag)
    _register_staging_cleanup()
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    names = []
    for table, build_fn, bucket_col, n_buckets in specs:
        spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
        leftover = os.path.join(loc, table)
        if os.path.isdir(leftover):
            shutil.rmtree(leftover, ignore_errors=True)
        df = build_fn(spark, sf_dir).repartition(n_buckets, bucket_col)
        write_bucketed(df, f"{db}.{table}", bucket_col, n_buckets=n_buckets)
        names.append(f"{db}.{table}")
    _BUCKETED_CACHE[key] = tuple(names)
    return _BUCKETED_CACHE[key]
