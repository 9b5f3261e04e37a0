"""SparkSession factory.

Replaces the reference's hand-rolled cluster runtime (gossip membership
mp1/src/detector.go, task pools mp3/src/maplejuice.go:209-225) with
Spark's scheduler. Every knob here is chosen for the 100 TB target:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the reference's fixed ``num_maples``/``num_juices`` DOP knob
  (mp3/src/maplejuice.go:209-225) becomes adaptive.
- AQE coalesces post-shuffle partitions by BYTES
  (``parallelismFirst=false``: honor ``advisoryPartitionSizeInBytes``),
  also inside persisted subplans
  (``canChangeCachedPlanOutputPartitioning``), where iterative
  operators' per-round exchanges live: ~defaultParallelism KB-sized
  partitions per round are pure scheduling overhead (pagerank 4.30 ->
  1.35 s at sf0.1/local[32]), and at real data sizes the rule yields
  more partitions, not one. condorcet_round1 and q17 are CPU-dense per
  key, so they pin their exchanges with a by-number
  ``repartition(<shuffle partitions>, key)``, which AQE never
  coalesces; otherwise each stage runs in one task at bench scale.
- shuffle partitions default to the core count locally; on a real
  cluster callers pass ``shuffle_partitions`` sized to the data.
- Arrow enabled so the few Pandas-UDF operators batch-transfer.
- Session timezone pinned UTC so results hash-compare with DuckDB.
- Python workers start from ``pyspark_worker_entry`` (repo root), whose
  stat-guarded zipimport cache stops every UDF task from re-reading
  ``pyspark.zip`` and the Spark jar's central directories (measured
  0.18 worker CPU-s per task on Python 3.11). Inert on Python >= 3.13,
  which no longer re-reads there.
- Spark's worker daemon imports that module before its first fork, and
  there it preloads pyarrow, pandas and the Arrow row stage, then
  freezes its GC: every worker forks with them imported and shares
  their pages, and the full collection a worker runs after each task
  skips them. Driver-side frames are built through Arrow
  (``operators/spread.local_frame``, a ``LocalTableScan``), so no
  pickled ``PythonRDD`` stage starts a second daemon and pool.
- Parquet columns resolve by field id where the read schema carries
  ``parquet.field.id`` (only iceberg's does) and by name elsewhere, so
  an iceberg read changes no session conf.
"""

from __future__ import annotations

import os
import re

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


def conf_bytes(conf, key: str, default: int) -> int:
    """The byte-size conf ``key`` of ``conf`` (``spark.conf``, or any
    mapping with ``get``) in bytes, or ``default`` when it is unset or
    does not parse. Spark byte strings are bare digits or a k/m/g/t
    suffix with an optional 'b' (``'128m'``, ``'4194304b'``, ``'1g'``);
    stripping the non-digits instead would read ``'128m'`` as 128
    bytes."""
    raw = str(conf.get(key, str(default))).strip().lower()
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", raw)
    if m is None:
        return default
    shift = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40}[m.group(2)]
    return int(m.group(1)) << shift


def byte_coalesced(spark: SparkSession) -> SparkSession:
    """Return ``spark`` itself: every ``get_spark`` session already
    coalesces by bytes. Kept only because ``perfbench/run.py``, which
    changes only with the benchmark, imports and calls it; delete it
    with the next benchmark change."""
    return spark


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
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # iceberg's read schemas carry parquet.field.id, resolved by id;
        # every other read schema has none and still resolves by name
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
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
