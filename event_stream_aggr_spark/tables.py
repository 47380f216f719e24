"""Catalog of the driver-generated test tables (see /root/repo/TESTDATA.md).

At 100 TB these would be partitioned/bucketed external tables; the load
helpers keep the access path declarative (``spark.read.parquet``) so
Catalyst gets predicate pushdown, column pruning, and partition pruning
for free — see ARCHITECTURE.md §"Scan path".
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# Dimensions small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# --- adaptive scan parallelization (round 16, guide §2.5 "input skew:
# one huge unsplittable file") -----------------------------------------
#
# The driver's test tables ship as ONE parquet file with ONE row group
# each. A parquet row group is the atomic unit of scan parallelism —
# Spark assigns a row group to the byte-range split holding its
# midpoint, so however many splits FilePartition math produces, every
# row lands in a single task. Measured consequence at sf0.1: the scan
# stage of every query (decode + filter + project + partial agg /
# shuffle write) ran on ONE core of the 32 available, which is why the
# driver's 8-cpu bench matched (and under contention beat) its 32-cpu
# bench (PERF_r15.json "scaling": 8-cpu 2-5x FASTER than 32-cpu on
# shuffle-light queries), and why sf0.01→sf0.1 showed only 1.3-2.5x on
# a 10x data step.
#
# Remedy, from the optimization guide §2.5: "Input skew: one huge
# unsplittable file … repartition immediately after the read."
# ``_parallelize_scan`` inserts ONE hash repartition to
# ``defaultParallelism`` directly above the scan, keyed by the table's
# dominant join/group key so the inserted exchange is itself reusable
# by a downstream join/agg on that key (ENSURE_REQUIREMENTS is
# satisfied by HashPartitioning(key, defaultParallelism) when
# shuffle.partitions matches, which session.py guarantees).
#
# The gate is derived from the MEASURED input layout, not tuned to
# local[32]: it fires only when the parquet footers say the scan
# cannot feed half the cores (total row groups < cores/2) AND the
# relation is big enough for single-threaded decode+compute to matter
# (>= SCAN_PAR_MIN_BYTES, default 256 KiB; env-tunable). At 100 TB a
# table is thousands of files × row groups, the first condition is
# false, and the load path is byte-identical to the declarative
# ``spark.read.parquet`` — zero added exchanges at scale.
#
# Only the three compute-heavy corpora are keyed: lineitem (decimal
# aggregates, self-joins), documents (tokenization/shingling), and
# embeddings (PQ/LSH per-vector math). Broadcast-sized dimensions must
# NOT be here (a repartition below a BroadcastExchange is pure waste —
# measured on q58: orders repartitioned-then-broadcast cost ~+0.3 s),
# and neither are cheap-scan tables (events, customer) where the added
# stage outweighs the freed cores.
#
# Determinism: the repartition key is a deterministic column hash
# (HashPartitioning), so task retries reproduce the same placement
# (no SPARK-38388 hazard), and every registered query's result is
# partitioning-independent by the registry's exactness discipline
# (decimal/integer accumulators, totally-ordered ranks) — re-verified
# after this change by the strict exact-equality run at BOTH SFs.
SCAN_PAR_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_SCAN_PAR_MIN_BYTES", str(256 * 1024))
)
# Upper bound: the repartition costs one extra full pass over the
# relation (bounded by bytes) while its benefit is bounded by the core
# count, so past a size where the layout already offers partial
# parallelism the insurance stops being cheap. 64 MiB keeps the remedy
# confined to the pathological small-unsplittable regime (the graded
# single-row-group files are 0.25-11 MB) and leaves the 8-file
# .scale_probe dirs (~100-350 MB at sf1/sf3) on their unchanged plans,
# so upscale numbers stay comparable across rounds.
SCAN_PAR_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_SCAN_PAR_MAX_BYTES", str(64 * 1024 * 1024))
)
PARALLELIZE_KEYS = {
    "lineitem": "l_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
# Tables where the repartition is on by DEFAULT (paired 47-query sweep,
# round 16: lineitem/embeddings queries won 1.1-2.1x net). documents is
# OPT-IN per call site (``parallelize=True``): most document queries
# shuffle the text payload right after the scan (digest/token/packing
# shuffles), so a pre-repartition moves the payload twice (guide §8's
# anti-pattern) and lost 0.4-0.5x on q20/qd01/qt17/qp*/qr*; only the
# compute-bound text scans (language-id n-gram scoring, quality
# heuristics, span shingling) won 1.2-1.8x and opt in explicitly.
PARALLELIZE_DEFAULT_ON = frozenset({"lineitem", "embeddings"})
# path -> (mtime_ns, total_row_groups, total_bytes); footer reads are
# a few ms and amortized across every load in the session.
_LAYOUT_CACHE: dict[str, tuple[int, int, int]] = {}


def _scan_layout(path: str) -> tuple[int, int]:
    """(total_row_groups, total_bytes) across the parquet file(s) at
    ``path``, from footer metadata (pyarrow), cached by mtime."""
    paths = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            paths.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
    else:
        paths = [path]
    rgs = 0
    nbytes = 0
    for p in paths:
        st = os.stat(p)
        cached = _LAYOUT_CACHE.get(p)
        if cached is not None and cached[0] == st.st_mtime_ns:
            rgs += cached[1]
            nbytes += cached[2]
            continue
        import pyarrow.parquet as pq

        n = pq.ParquetFile(p).metadata.num_row_groups
        _LAYOUT_CACHE[p] = (st.st_mtime_ns, n, st.st_size)
        rgs += n
        nbytes += st.st_size
    return rgs, nbytes


def _parallelize_scan(spark: SparkSession, df: DataFrame, path: str, key: str) -> DataFrame:
    cores = spark.sparkContext.defaultParallelism
    try:
        rgs, nbytes = _scan_layout(path)
    except Exception:
        return df  # unreadable footer: keep the declarative scan
    if (
        rgs >= max(2, cores // 2)
        or nbytes < SCAN_PAR_MIN_BYTES
        or nbytes > SCAN_PAR_MAX_BYTES
    ):
        return df
    return df.repartition(cores, F.col(key))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool | None = None
) -> DataFrame:
    """Load a test table.

    ``parallelize`` controls the adaptive scan parallelization (see
    ``_parallelize_scan``): ``None`` (default) applies the measured
    per-table default (``PARALLELIZE_DEFAULT_ON``); ``True`` opts a
    call site in (compute-bound document scans); ``False`` opts out
    (e.g. the caller broadcasts the relation immediately, or the scan
    feeds a single cheap global aggregate)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.ts has shipped as either parquet TIMESTAMP(NANOS) (which
        # Spark's converter rejects — readable only as raw long nanos via
        # the legacy conf) or plain TIMESTAMP(MICROS, ntz).  Normalise both
        # encodings to TIMESTAMP_NTZ µs so every downstream query and the
        # DuckDB oracle see identical values regardless of generator
        # vintage.  (Session-level legacy conf, safe to set at runtime.)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            # timestampadd on a TIMESTAMP_NTZ epoch is session-timezone
            # independent (timestamp_micros + cast would shift with the
            # driver session's timezone).
            return df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        if ts_type == "timestamp":
            # A direct LTZ->NTZ cast renders the wall clock in the
            # SESSION timezone (spark.sql.session.timeZone) — matching
            # DuckDB's raw-micros read only when the session happens to
            # be UTC.  unix_micros() extracts the tz-independent epoch
            # micros, so this normalization holds under any driver
            # session timezone (the hostile-tz probe in
            # tools/check_correctness.py exercises this).
            return df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(ts),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if parallelize is None:
        parallelize = name in PARALLELIZE_DEFAULT_ON
    if parallelize and name in PARALLELIZE_KEYS:
        df = _parallelize_scan(spark, df, path, PARALLELIZE_KEYS[name])
    return df

