"""Loaders for the driver-generated parquet corpus (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under a scale-factor
directory such as ``/root/testdata/sf0.01``.

Design notes for 100 TB:
- ``spark.read.parquet`` hands Catalyst a pruning-friendly scan: column
  pruning and predicate pushdown reach the parquet reader automatically
  as long as downstream code stays declarative (verified in tests via
  ``explain`` — ``PushedFilters`` / ``ReadSchema``).
- No schema inference cost: parquet carries its schema.
- At cluster scale the same loader works on a directory of thousands of
  files; ``spark.sql.files.maxPartitionBytes`` governs split sizing and
  AQE handles post-shuffle sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

#: Dimension tables small enough to broadcast at any realistic scale factor
#: (region: 5 rows, nation: 25 rows — fixed-cardinality in TPC-H-style data).
ALWAYS_BROADCAST = ("region", "nation")


def ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs every query path relies on, applied defensively: the
    harness may hand us a session built without our factory (session.py).

    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS), which the
      reader otherwise rejects outright;
    - UTC session timezone: epoch outputs (unix_timestamp over NTZ
      timestamps) must not depend on the host timezone, and the DuckDB
      oracle computes wall-clock epochs;
    - ship this package to Python workers: mapInPandas / DataSource
      closures reference module functions by name, and the harness's
      worker processes don't necessarily have the repo on PYTHONPATH.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_package(spark)


#: per-process cache of the computed zip path — the package cannot change
#: under a running process, so the tree walk runs once, not per query.
_ZIP_PATH_CACHE: dict[str, str] = {}


def _ship_package(spark: SparkSession) -> None:
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = _ZIP_PATH_CACHE.get(pkg_dir)
    if zip_path is None:
        # key the zip on a digest of every module's (path, mtime, size):
        # the top-level directory's mtime does NOT change when a file
        # inside a subpackage is edited, and a stale zip means workers
        # silently import old code while the driver runs new code.
        h = hashlib.md5()
        for root, _, files in sorted(os.walk(pkg_dir)):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    h.update(
                        f"{os.path.relpath(full, pkg_dir)}:"
                        f"{st.st_mtime_ns}:{st.st_size};".encode()
                    )
        zip_path = os.path.join(
            "/tmp", f"{pkg_name}-{h.hexdigest()[:16]}.zip"
        )
        _ZIP_PATH_CACHE[pkg_dir] = zip_path
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    # idempotent per session; re-adding the same path is a no-op warning.
    already = getattr(spark, "_ssdp_shipped", None)
    if already != zip_path:
        spark.sparkContext.addPyFile(zip_path)
        spark._ssdp_shipped = zip_path


#: fan-out window for :func:`_fan_out_small_scan` — tables below the
#: floor are broadcast-tier (the repartition would cost more than it
#: buys), tables above the cap have enough row groups for Spark's own
#: split planning to parallelize the scan.
_FAN_OUT_MIN_BYTES = 256 << 10
_FAN_OUT_MAX_BYTES_PER_CORE = 8 << 20


def _fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Escape hatch for the small-file serial-scan pathology (round 10).

    Parquet cannot split below row-group granularity, so a table written
    as ONE row group scans as ONE task no matter how many cores the
    cluster has — and every expression-dense map leg above it (n-gram
    explodes, hash forests, tokenizers) runs serially until the first
    shuffle (measured at sf0.1: the trigram explode of documents dropped
    1.94 s -> 0.37 s once fanned out). DuckDB parallelizes INSIDE row
    groups (morsel-driven), so this is also where the single-node
    comparison was structurally lopsided.

    When the scan's input files are LOCAL and total between
    ``_FAN_OUT_MIN_BYTES`` and ``_FAN_OUT_MAX_BYTES_PER_CORE x cores``,
    a round-robin repartition to the default parallelism costs one tiny
    shuffle and parallelizes everything downstream. At deployment scale
    the condition is false three ways — remote object stores return
    non-file URIs (skip), big tables exceed the cap, broadcast-tier dims
    sit under the floor — so the operator is a no-op exactly where
    Spark's own split planning already does the job. Value-safe: no
    plan in this package depends on row order or partition layout
    (verified: no monotonically_increasing_id / spark_partition_id /
    rand in the package), and the driver oracle compares sorted values.
    """
    from urllib.parse import unquote, urlparse

    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    try:
        total = 0
        for uri in df.inputFiles():
            p = urlparse(uri)
            if p.scheme not in ("", "file"):
                return df
            total += os.path.getsize(unquote(p.path))
    except Exception:
        return df
    if _FAN_OUT_MIN_BYTES <= total <= _FAN_OUT_MAX_BYTES_PER_CORE * cores:
        return df.repartition(cores)
    return df


#: tables fanned out by default — EMPTY on purpose: whether the extra
#: exchange pays is a property of the QUERY, not the table (round-10
#: alternating A/B at sf0.1: -28% for the span shingle explode, -9% for
#: the LM scorer, but +126% for BM25's index build and +49% for the
#: prefix-sum sharder — the losers either write many small files after
#: the shuffle or do their own partition-count-sensitive layout).
#: Expression-dense plans opt in with ``fan_out=True``.
_FAN_OUT_AUTO: tuple[str, ...] = ()


#: per-process memo of table SCHEMAS keyed by file identity
#: (path, mtime_ns, size). This is metadata caching, not result (or
#: even plan) caching: schema inference reads the parquet footer on
#: the DRIVER on every ``spark.read.parquet`` call (~0.12 s measured —
#: a 6-table join re-paid ~0.7 s of footer reads per plan rebuild);
#: supplying the schema explicitly cuts the build to ~0.02 s (the
#: production analog is a catalog serving table schemas instead of
#: per-query footer reads — guide §6's listing/metadata point). Every
#: call still builds a FRESH relation: an earlier round-12 variant
#: memoized the DataFrame itself, and self-referencing plans (as-of /
#: range-join / SCD2 union tricks over one table) then saw the SAME
#: relation object on both sides — DeduplicateRelations plus
#: exchange-reuse serialization measured +0.2-0.6 s per slot, more
#: than the saved footer reads. Staleness guard: the key carries
#: (mtime_ns, size), so a regenerated corpus misses and re-infers; a
#: pyspark StructType is a plain Python value, valid across sessions.
#: SINGLE-FILE ASSUMPTION (round-12 ADVICE): the stat is of the top-
#: level path, which is sound for the corpus's one-file-per-table
#: layout; for a DIRECTORY-style dataset, rewriting one part file in
#: place changes neither the dir mtime nor its size, so a directory
#: path would need a child-file fingerprint (e.g. max mtime_ns over
#: entries) in the key before this memo could serve it safely.
_TABLE_SCHEMA_CACHE: dict[tuple, object] = {}


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    fan_out: bool | None = None,
) -> DataFrame:
    """Load one corpus table; ``fan_out`` overrides the per-table
    default in ``_FAN_OUT_AUTO`` (pass False at call sites that already
    repartition — a second exchange is pure cost)."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if fan_out is None:
        fan_out = name in _FAN_OUT_AUTO
    try:
        st = os.stat(path)
        key: tuple | None = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # non-local / missing path: no identity to key on — infer
        # uncached and let the reader raise its own error
        key = None
    schema = _TABLE_SCHEMA_CACHE.get(key) if key is not None else None
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            if len(_TABLE_SCHEMA_CACHE) >= 4096:
                for k in list(_TABLE_SCHEMA_CACHE)[:2048]:
                    _TABLE_SCHEMA_CACHE.pop(k, None)
            _TABLE_SCHEMA_CACHE[key] = df.schema
    if fan_out:
        df = _fan_out_small_scan(df)
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # parquet TIMESTAMP(NANOS) read as int64 via nanosAsLong (see
            # session.py); truncate ns -> us exactly like DuckDB's epoch_us.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
            # NTZ; epoch functions (unix_micros & co) require TIMESTAMP.
            # The session TZ is pinned UTC above, so this cast is
            # epoch-preserving and matches DuckDB's naive-timestamp math.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
