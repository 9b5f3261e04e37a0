"""SparkSession factory.

Replaces the reference's hand-rolled cluster runtime (gossip membership
mp1/src/detector.go, task pools mp3/src/maplejuice.go:209-225) with
Spark's scheduler. Every knob here is chosen for the 100 TB target:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the reference's fixed ``num_maples``/``num_juices`` DOP knob
  (mp3/src/maplejuice.go:209-225) becomes adaptive.
- shuffle partitions default to the core count locally; on a real
  cluster callers pass ``shuffle_partitions`` sized to the data.
- Arrow enabled so the few Pandas-UDF operators batch-transfer.
- Session timezone pinned UTC so results hash-compare with DuckDB.
- Python workers start from ``pyspark_worker_entry`` (repo root), whose
  stat-guarded zipimport cache stops every UDF task from re-reading
  ``pyspark.zip`` and the Spark jar's central directories (measured
  0.18 worker CPU-s per task on Python 3.11). Inert on Python >= 3.13,
  which no longer re-reads there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def hadoop_conf_from_env(env=None) -> dict[str, str]:
    """Object-store configuration passthrough: ``spark.hadoop.*``
    entries read from the java-properties-style file named by
    ``$SPARK_GRAFT_HADOOP_CONF`` (one ``key=value`` per line, ``#``
    comments; e.g. ``fs.s3a.endpoint=https://...`` becomes
    ``spark.hadoop.fs.s3a.endpoint``). This is the seam that points
    the engine at S3/GCS/MinIO — the pointer-mode store commit
    (operators/storemeta.py) is already the object-store shape, and
    Spark reads ``s3a://`` paths natively once these are set. The
    sandbox has no object store, so only ``file://`` paths are
    exercised here; the passthrough itself is unit-tested."""
    env = os.environ if env is None else env
    path = env.get("SPARK_GRAFT_HADOOP_CONF")
    if not path or not os.path.exists(path):
        return {}
    out: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, _, v = line.partition("=")
            k = k.strip()
            prefix = "" if k.startswith("spark.") else "spark.hadoop."
            out[prefix + k] = v.strip()
    return out


# ---------------------------------------------------------------------
# Per-query runtime-SQL-conf scoping (r17). Some queries want AQE to
# coalesce post-shuffle partitions BY BYTES (parallelismFirst=false:
# honor advisoryPartitionSizeInBytes) — the documented production
# setting for shuffle-latency-bound iterative plans like PageRank,
# where keeping ~defaultParallelism KB-sized partitions per round is
# pure scheduling overhead (measured: the r16 bench anti-scaled 8 vs
# 32 cores, pagerank ratio 0.40). A BLANKET flip is a measured
# pessimization for CPU-dense post-shuffle stages (condorcet_round1
# 1.4 -> 3.4 s: its per-order aggregate collapsed to one partition at
# bench scale), so the flip is scoped per query through a SIBLING
# SparkSession: same SparkContext (same executors, caches, JVM), own
# SQLConf, so the conf is live when the CALLER's action later executes
# the returned lazy DataFrame — a plain spark.conf.set inside a query
# function would be reset long before the bench's count() runs.
# Sessions are memoized per (base session, conf) so bench reps reuse
# one sibling instead of leaking SessionStates.

_DERIVED_SESSIONS: dict[tuple[int, tuple[tuple[str, str], ...]],
                        SparkSession] = {}


def derived_session(spark: SparkSession,
                    confs: dict[str, str]) -> SparkSession:
    """A sibling session of ``spark`` with ``confs`` applied to its
    (separate) runtime SQLConf. The base session's conf is untouched."""
    key = (id(spark._jsparkSession), tuple(sorted(confs.items())))
    s = _DERIVED_SESSIONS.get(key)
    if s is None:
        s = spark.newSession()
        for k, v in confs.items():
            s.conf.set(k, v)
        _DERIVED_SESSIONS[key] = s
    return s


# At 100 TB the same seam carries the full production recommendation
# (advisory 256m); locally the inherited 64m default keeps bench-scale
# single-partition coalescing while staying byte-driven at any scale.
BYTE_COALESCE_CONFS = {
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # persisted subplans otherwise keep their static shuffle
    # partitioning (Spark pins cached output partitioning by default),
    # which is exactly where iterative operators' per-round exchanges
    # live — without this the flip never reaches them (measured r17:
    # pagerank 2.5-4.2 s -> 1.4-1.7 s at sf0.1/local[32])
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def byte_coalesced(spark: SparkSession) -> SparkSession:
    """Sibling session where AQE coalesces post-shuffle partitions by
    target BYTES rather than keeping local-parallelism-many tiny
    partitions — scale-adaptive by construction (partition count
    follows shuffle bytes / advisory size at any data size)."""
    return derived_session(spark, BYTE_COALESCE_CONFS)


def get_spark(
    app_name: str = "dcp-spark-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.python.worker.module", "pyspark_worker_entry")
        # bucketed tables (catalog.put_bucketed) need a warehouse; keep
        # it out of the repo tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/dcp-spark-warehouse"))
        # events.parquet stores TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read as long and convert in sources.registry
        # (values are µs-resolution — lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in hadoop_conf_from_env().items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
