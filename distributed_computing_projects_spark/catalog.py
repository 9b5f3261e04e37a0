"""SDFS-as-API catalog: named datasets with put/get/ls/store/delete.

Mirrors the reference command surface (mp3/src/main.go:179-229;
RpcPut mp3/src/sdfs.go:108-178, RpcGet :180-227, RpcDelete :251-261,
ls/RpcListIPs :230-248, Store mp3/src/sdfsmaster.go:206-222) on a
directory of Parquet datasets:

- replication/blocks are the storage layer's job (HDFS/S3 at scale);
- the per-file writer lock service (mp3/src/sdfslock.go) is replaced by
  atomic write-to-temp + rename commit;
- the master metadata maps (fileMap/numBlocks, mp3/src/sdfsmaster.go:17-25)
  collapse to "name -> directory" resolved by listing, plus a
  ``_format`` sidecar per dataset holding its format, schema and data
  bytes. The master plans one map task for a one-block file
  (GetLogicalSplits, mp3/src/sdfs.go:94-106); ``get`` likewise reads
  a dataset no bigger than one file open as one partition.

At 100 TB the catalog would point at a real metastore; this class keeps
the same narrow API so callers never touch paths.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.session import conf_bytes


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        # an empty name would resolve to the root itself: delete("")
        # would remove every dataset
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid dataset name: {name!r}")
        return os.path.join(self.root, name)

    # Dataset formats. The reference's SDFS stores raw bytes and is
    # format-blind (mp3/src/sdfs.go:108-178); here a dataset remembers
    # its format on disk so ``get`` needs no caller-side metadata.
    # parquet is the default (columnar, pushdown); orc is the other
    # splittable columnar option; json = JSONL interchange.
    #
    # The format, the exact write-time schema and the data bytes (the
    # part files' sizes, as ``ls`` lists them) are recorded in a
    # ``_format`` sidecar written inside the same atomic rename as the
    # data, so they can never disagree with the part-files. ``get``
    # reads with that schema, for every format: JSONL is not
    # self-describing (re-inference narrows int widths and re-types
    # timestamps), partition columns would be re-typed from directory
    # names, and inferring a parquet schema starts a Spark job to read
    # a footer. Sidecars without a schema (written before it was
    # recorded) read by inference. Part-file extension sniffing remains
    # only as a fallback for pre-sidecar datasets and RAISES when
    # nothing matches (an empty dataset dir used to silently default
    # to parquet and fail confusingly downstream).
    FORMATS = ("parquet", "orc", "json")
    SIDECAR = "_format"

    def put(self, name: str, df: DataFrame, mode: str = "error",
            fmt: str = "parquet") -> str:
        """Write a DataFrame as the named dataset (atomic commit).

        ≅ reference ``put localfilename sdfsfilename``. The reference takes
        a master writer lock for the whole upload (mp3/src/sdfslock.go:57-76);
        we write to a temp dir and rename — same all-or-nothing visibility
        without a lock service.
        """
        if mode not in ("error", "ignore", "overwrite"):
            raise ValueError(
                f"mode must be 'error', 'ignore' or 'overwrite', got {mode!r}"
            )
        if fmt not in self.FORMATS:
            raise ValueError(f"fmt must be one of {self.FORMATS}, got {fmt!r}")
        dest = self._path(name)
        if os.path.exists(dest):
            if mode == "error":
                raise FileExistsError(name)
            if mode == "ignore":
                return dest
        tmp = os.path.join(self.root, f".tmp-{name}-{uuid.uuid4().hex}")
        df.write.mode("overwrite").format(fmt).save(tmp)
        self._write_sidecar(tmp, fmt, df)
        if os.path.exists(dest):
            shutil.rmtree(dest)
        os.rename(tmp, dest)
        return dest

    def _write_sidecar(self, data_dir: str, fmt: str, df: DataFrame) -> None:
        import json

        meta = {"format": fmt, "schema": json.loads(df.schema.json()),
                "bytes": sum(size for _, size in _data_files(data_dir))}
        with open(os.path.join(data_dir, self.SIDECAR), "w") as f:
            json.dump(meta, f)

    def _read_meta(self, path: str) -> dict:
        """Dataset metadata: the sidecar when present, else extension
        sniffing (pre-sidecar datasets — including hive-partitioned
        ones, whose part files sit under ``col=val/`` subdirectories).
        Raises on an undetectable dataset instead of guessing."""
        import json

        sidecar = os.path.join(path, self.SIDECAR)
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                return json.load(f)
        fmt = self._sniff_format(path)
        if fmt is not None:
            return {"format": fmt}
        raise ValueError(
            f"cannot determine format of dataset at {path}: no "
            f"{self.SIDECAR} sidecar and no part-file with a known "
            f"extension {self.FORMATS}"
        )

    def _sniff_format(self, path: str) -> str | None:
        """Part-file extension sniff, recursing into partition-style
        (``name=value``) subdirectories so pre-sidecar hive-partitioned
        datasets stay readable."""
        for f in sorted(os.listdir(path)):
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(path, f)
            if os.path.isdir(full) and "=" in f:
                fmt = self._sniff_format(full)
                if fmt is not None:
                    return fmt
                continue
            for fmt in self.FORMATS:
                if f.endswith(f".{fmt}") or f".{fmt}." in f:
                    return fmt
        return None

    def put_partitioned(
        self, name: str, df: DataFrame, partition_cols: list[str]
    ) -> str:
        """Write a dataset hive-partitioned by ``partition_cols``.

        Partition pruning is the single biggest 100 TB lever: a filter
        on a partition column becomes directory pruning — the scan
        never opens non-matching files (PartitionFilters in the plan,
        asserted in tests/test_bucketing.py). Choose low-cardinality,
        always-filtered columns (event date, language, source).
        """
        dest = self._path(name)
        tmp = os.path.join(self.root, f".tmp-{name}-{uuid.uuid4().hex}")
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
        self._write_sidecar(tmp, "parquet", df)
        if os.path.exists(dest):
            shutil.rmtree(dest)
        os.rename(tmp, dest)
        return dest

    def put_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: list[str],
        n_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Write a BUCKETED managed table: rows hash-partitioned into
        ``n_buckets`` files by ``bucket_cols`` at write time.

        This is the co-located-join primitive the reference lacks: two
        tables bucketed the same way join WITHOUT a shuffle (the
        exchange disappears from the plan — asserted in
        tests/test_bucketing.py). At 100 TB, bucketing the fact tables
        on their join keys once turns every subsequent join/aggregation
        on those keys into a shuffle-free stage.
        """
        table = self._bucketed_table(name)
        # the in-memory catalog forgets tables across sessions but the
        # warehouse files persist -> clear both or saveAsTable raises
        # LOCATION_ALREADY_EXISTS
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "")
        loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
        if loc and os.path.exists(loc):
            shutil.rmtree(loc)
        writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table)

    def _bucketed_table(self, name: str) -> str:
        """Warehouse table name for this catalog's bucketed dataset.

        Bucketed tables live in the session warehouse, not under
        ``self.root`` (bucket metadata needs the table catalog), so the
        name is namespaced by a hash of the root — two Catalog
        instances must never clobber each other's tables. ``_path``
        validates the user-facing name first.
        """
        import hashlib

        self._path(name)  # reuse name validation
        ns = hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:8]
        return f"bucketed_{ns}_{name}"

    def get_bucketed(self, name: str) -> DataFrame:
        return self.spark.table(self._bucketed_table(name))

    def get(self, name: str) -> DataFrame:
        """≅ reference ``get sdfsfilename localfilename``. The storage
        format and the exact write-time schema come from the ``_format``
        sidecar, so callers stay format-agnostic, every format
        round-trips its types losslessly and no Spark job runs to infer
        a schema.

        A dataset whose recorded data bytes are at most
        ``min(spark.sql.files.openCostInBytes,
        spark.sql.files.maxPartitionBytes)`` (read from the session on
        each call) comes back as ONE partition. Spark charges the open
        cost per file when it packs splits, so such a dataset is worth
        no more than one task; saying so lets a count or an aggregate
        over it plan no Exchange and run as one job instead of two.
        Filters, partition filters and column pruning still push below
        the coalesce. Sidecars without recorded bytes (written before
        they were) read as they were written."""
        path = self._path(name)
        if not os.path.exists(path):
            raise FileNotFoundError(name)
        meta = self._read_meta(path)
        reader = self.spark.read
        if meta.get("schema") is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(meta["schema"]))
        df = reader.format(meta["format"]).load(path)
        size = meta.get("bytes")
        conf = self.spark.conf
        if size is not None and size <= min(
            conf_bytes(conf, "spark.sql.files.openCostInBytes", 4194304),
            conf_bytes(conf, "spark.sql.files.maxPartitionBytes", 134217728),
        ):
            return df.coalesce(1)
        return df

    def ls(self, name: str) -> list[dict]:
        """Per-file layout of a dataset (≅ ``ls`` replica listing,
        mp3/src/sdfs.go:230-248 — block/replica map becomes file list).
        Part files of a partitioned dataset are listed by their path
        under the dataset, e.g. ``l_returnflag=A/part-...``."""
        path = self._path(name)
        if not os.path.exists(path):
            raise FileNotFoundError(name)
        return sorted(({"file": f, "bytes": size}
                       for f, size in _data_files(path)),
                      key=lambda e: e["file"])

    def store(self) -> list[str]:
        """All dataset names (≅ ``store``, mp3/src/sdfsmaster.go:206-222)."""
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d)) and not d.startswith(".")
        )

    def delete(self, name: str) -> None:
        """≅ reference ``delete sdfsfilename`` (mp3/src/sdfs.go:251-261)."""
        path = self._path(name)
        if not os.path.exists(path):
            raise FileNotFoundError(name)
        shutil.rmtree(path)


def _data_files(path: str):
    """``(path relative to the dataset, bytes)`` of each data file of the
    dataset at ``path``. Names starting with ``_`` or ``.`` (the sidecar,
    ``_SUCCESS``, ``.crc`` checksums, temp dirs) are not data."""
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                full = os.path.join(dirpath, f)
                yield os.path.relpath(full, path), os.path.getsize(full)
