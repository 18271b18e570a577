"""Table IO abstraction — Iceberg when the runtime has a catalog, identical
parquet layout otherwise (SURVEY §7.3-5).

The north rule's input is "Iceberg tables of image+caption pairs". In this
sandbox no Iceberg runtime jar ships, so the engine programs against this
thin seam: `write_table`/`read_table` use the Iceberg source when
`iceberg_available()` (catalog configured + jar present), else parquet with
the same partition spec. Pipeline semantics that Iceberg would provide —
atomic snapshot commits per stage and resumability — are implemented
explicitly in plans/pipeline.py (tmp+rename commit + manifest), so moving
to a real catalog only swaps this module's backend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog is configured and the runtime jar loads.

    Every table read and commit asks, so only the catalog entries cross
    py4j: copying the whole conf costs one round trip per entry (~23 ms
    for a default session on a 4-vCPU host). py4j resolves a missing
    class to a JavaPackage instead of raising."""
    from py4j.java_gateway import JavaClass

    catalogs = spark.sparkContext._jsc.sc().conf().getAllWithPrefix("spark.sql.catalog.")
    if not any("iceberg" in str(kv._2()).lower() for kv in catalogs):
        return False
    return isinstance(spark._jvm.org.apache.iceberg.Table, JavaClass)


def write_table(df: DataFrame, target: str, partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    """target: an Iceberg table identifier (catalog.db.tbl) when Iceberg is
    available, else a filesystem path for parquet."""
    spark = df.sparkSession
    if iceberg_available(spark):
        writer = df.writeTo(target)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target)


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str],
                   n_buckets: int = 32, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Persist a table hash-bucketed on the join key (saveAsTable — Spark
    bucketing requires a catalog table, works with the built-in in-memory
    catalog + warehouse dir; Iceberg maps the same layout to a bucket
    partition transform).

    The 100 TB point: the conflation layer is joined on its cell key by
    every incoming batch. Stored bucketed on that key, each join reads
    co-located buckets and the Exchange disappears from BOTH sides of the
    plan — the layer is shuffled once at write time instead of once per
    query (verified by tests/test_table_layout.py: no Exchange in the
    bucketed join plan)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def read_table(spark: SparkSession, target: str,
               schema: dict | None = None) -> DataFrame:
    """schema: the JSON form (StructType.jsonValue()) of what a commit
    wrote. Parquet reads with it, so a table with no data file (a
    partitioned write of zero rows) reads back empty with its columns
    instead of failing schema inference; Iceberg keeps its own."""
    if iceberg_available(spark):
        return spark.read.format("iceberg").load(target)
    if schema is not None:
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(schema)).parquet(target)
    return spark.read.parquet(target)


def commit_table(df: DataFrame, target: str,
                 partition_by: list[str] | None = None) -> None:
    """Atomically commit df as the new contents of target.

    The COMMIT STRATEGY lives here, behind the seam, so pipeline stages
    (plans/pipeline.py) are backend-agnostic:

      - Iceberg: writeTo().createOrReplace() — a native snapshot commit
        (atomic on any store, including object stores).
      - parquet fallback: write to a tmp sibling then rename. Rename is
        atomic only on real filesystems (local/HDFS) — it does NOT exist
        on object stores, which is exactly why a production deployment
        configures the Iceberg catalog and takes the first branch.
    """
    spark = df.sparkSession
    if iceberg_available(spark):
        write_table(df, target, partition_by)
        return
    import os
    import shutil
    import uuid

    tmp = f"{target}.tmp-{uuid.uuid4().hex[:8]}"
    write_table(df, tmp, partition_by)
    if os.path.exists(target):
        shutil.rmtree(target)
    os.rename(tmp, target)


def committed_partition_rows(spark: SparkSession, target: str) -> dict[int, int]:
    """{write-task partition id: rows} over the data files committed at
    target, from file metadata alone (no scan, no Python worker).

    Both backends name a data file after the task that wrote it: Spark's
    `part-NNNNN-…` and Iceberg's `NNNNN-…` start with the partition id, so
    a task that wrote several files (one per partition directory) sums
    them. Only committed task attempts leave files, so retried and
    speculative attempts count once.

      - Iceberg: file_path/record_count of the table's `files` metadata
        table. Not runnable in this sandbox (no runtime jar), like the
        other Iceberg branches of this seam.
      - parquet fallback: the row count in each file's footer.
    """
    import os
    import re

    if iceberg_available(spark):
        files = [
            (r.file_path, r.record_count)
            for r in spark.read.format("iceberg").load(f"{target}.files")
            .select("file_path", "record_count").collect()
        ]
    else:
        import pyarrow.parquet as pq

        files = [
            (fn, pq.read_metadata(os.path.join(dp, fn)).num_rows)
            for dp, _dns, fns in os.walk(target)
            for fn in fns if fn.startswith("part-")
        ]
    rows: dict[int, int] = {}
    for path, n in files:
        pid = int(re.match(r"(?:part-)?(\d+)-", os.path.basename(path)).group(1))
        rows[pid] = rows.get(pid, 0) + n
    return rows


def read_postgis(spark: SparkSession, url: str, table: str,
                 partition_column: str | None = None,
                 lower_bound: int | None = None,
                 upper_bound: int | None = None,
                 num_partitions: int = 32,
                 fetch_size: int = 10_000) -> DataFrame:
    """S4: the reference's PostGIS source (osm_merge/geosupport.py:175-199
    runs psycopg queries against an underpass/OSM database) as a
    spark.read.jdbc seam.

    Filters and column pruning push down to the database; with a
    partition_column + bounds the scan parallelizes into num_partitions
    range queries (the reference reads single-threaded into RAM). Geometry
    columns should be SELECTed as ST_X/ST_Y or ST_AsBinary expressions in
    a `(SELECT ...) AS t` dbtable — the engine's packed xs/ys form is
    built from those columns downstream. Requires the PostgreSQL JDBC
    driver on the classpath (not shipped in this sandbox — the parquet /
    Iceberg seam above is the tested path; this adapter completes the
    DB-backed story for deployments that have it).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", "org.postgresql.Driver")
        .option("fetchsize", str(fetch_size))
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def table_exists(spark: SparkSession, target: str) -> bool:
    if iceberg_available(spark):
        return spark.catalog.tableExists(target)
    import os

    return os.path.exists(target)


# ---------------------------------------------------------------------------
# Snapshot commits + time travel (the Iceberg feature set, on the seam)
# ---------------------------------------------------------------------------
# Iceberg's core contract is not the file format — it is snapshot isolation:
# every commit is a new immutable snapshot, readers pin one, old snapshots
# stay readable until expired. commit_table() above REPLACES the target;
# these functions implement the retained-snapshot contract on plain
# parquet + a JSON log, so `VERSION AS OF` / `TIMESTAMP AS OF` semantics
# (and the delta-conflation diff between two table states) work without the
# runtime jar. Single-writer by design — the same model as plans/pipeline's
# stage commits; a production deployment swaps this for the real catalog,
# whose optimistic-concurrency commit protocol this seam's API mirrors.
#
# Layout:  <target>/snap-v<N>/part-*.parquet   immutable snapshot data
#          <target>/_snaplog.jsonl             append-only snapshot log
#          <target>/_current                   atomic pointer (os.replace)

def commit_snapshot(df: DataFrame, target: str,
                    partition_by: list[str] | None = None) -> int:
    """Write df as a NEW snapshot of target and atomically advance the
    current pointer. Returns the snapshot version. Crash-safe: a failure
    before the pointer swap leaves the previous snapshot current and the
    half-written snap dir unreferenced (re-commit overwrites it)."""
    import json
    import os
    import time

    os.makedirs(target, exist_ok=True)
    v = max((s["v"] for s in snapshots(target)), default=0) + 1
    path = os.path.join(target, f"snap-v{v}")
    write_table(df, path, partition_by)
    with open(os.path.join(target, "_snaplog.jsonl"), "a") as f:
        f.write(json.dumps({"v": v, "ts": time.time(), "path": path}) + "\n")
    tmp = os.path.join(target, "_current.tmp")
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(target, "_current"))
    return v


def snapshots(target: str) -> list[dict]:
    """The snapshot log, oldest first (expired entries removed)."""
    import json
    import os

    log = os.path.join(target, "_snaplog.jsonl")
    if not os.path.exists(log):
        return []
    with open(log) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def read_snapshot(spark: SparkSession, target: str,
                  version: int | None = None,
                  as_of: float | None = None) -> DataFrame:
    """Time travel: current snapshot by default, `VERSION AS OF` with
    version=N, `TIMESTAMP AS OF` with as_of=unix-seconds (the latest
    snapshot committed at or before that instant)."""
    import os

    snaps = snapshots(target)
    if not snaps:
        raise FileNotFoundError(f"no snapshots at {target}")
    if version is None and as_of is None:
        cur = os.path.join(target, "_current")
        if os.path.exists(cur):
            with open(cur) as f:
                version = int(f.read().strip())
        else:
            # A crash between the first _snaplog append and the pointer swap
            # leaves a log with no _current; the latest logged snapshot is the
            # only committed state, so resume from it rather than raising a
            # raw FileNotFoundError.
            version = snaps[-1]["v"]
    if version is None:
        eligible = [s for s in snaps if s["ts"] <= as_of]
        if not eligible:
            raise LookupError(f"no snapshot at or before {as_of}")
        version = eligible[-1]["v"]
    match = [s for s in snaps if s["v"] == version]
    if not match:
        raise LookupError(f"snapshot v{version} not found (expired?)")
    return spark.read.parquet(match[0]["path"])


def expire_snapshots(target: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest keep_last snapshots (never the current
    pointer's). Returns the expired versions. The log rewrite happens
    AFTER the data deletes, so a crash mid-expire leaves only already-
    deleted entries to clean on the next call."""
    import json
    import os
    import shutil

    snaps = snapshots(target)
    with open(os.path.join(target, "_current")) as f:
        cur = int(f.read().strip())
    # keep_last=0 must keep ONLY the current snapshot; a bare snaps[-0:]
    # would slice the whole list and turn the expiry into a no-op.
    tail = snaps[-keep_last:] if keep_last > 0 else []
    keep = {s["v"] for s in tail} | {cur}
    expired = [s for s in snaps if s["v"] not in keep]
    for s in expired:
        shutil.rmtree(s["path"], ignore_errors=True)
    kept = [s for s in snaps if s["v"] in keep]
    tmp = os.path.join(target, "_snaplog.tmp")
    with open(tmp, "w") as f:
        for s in kept:
            f.write(json.dumps(s) + "\n")
    os.replace(tmp, os.path.join(target, "_snaplog.jsonl"))
    return [s["v"] for s in expired]


def compact_snapshot(spark: SparkSession, target: str,
                     target_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction — the `rewrite_data_files` maintenance action
    on the snapshot seam. Streaming ingests and per-tile sinks accrete
    many small files; on object storage every one is a LIST/open round
    trip, and Spark schedules a task per file-split, so a 10^12-row table
    of 4 MB files wastes most of a cluster's scheduler budget.

    Reads the CURRENT snapshot, rewrites it into ceil(bytes/target_bytes)
    files, and commits the rewrite as a NEW snapshot — readers pinned to
    old versions are untouched (time travel intact), and a crash
    mid-compact leaves the current pointer on the uncompacted snapshot.
    Returns the new snapshot version."""
    import math
    import os

    cur = read_snapshot(spark, target)
    snaps = snapshots(target)
    with open(os.path.join(target, "_current")) as f:
        v = int(f.read().strip())
    path = next(s["path"] for s in snaps if s["v"] == v)
    size = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _dns, fns in os.walk(path)
        for fn in fns if fn.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_bytes))
    return commit_snapshot(cur.coalesce(n_files), target)
