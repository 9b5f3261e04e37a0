"""The benchmark's three workloads.

Each workload turns the checked-in tables (``data/sf0.01``) into a list
of ops for one pass. An op is one call into the engine's public surface
(``call``) plus the action that forces its result (``action``). The
seed permutes the op order of every pass and picks the catalog slices;
the engine itself only ever sees the fixed tables.

Every workload also knows how to check its outputs (outside the timed
passes), which inputs it scans (the ``sources`` probe of a traced run)
and which layers its passes call (``LAYERS``). A traced run measures a
layer the passes bypass with a probe instead (``operator_probes``,
``query_probe_ops``, one ``CatalogPutGet`` pass), so every workload
reports every per-layer metric.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def force(df: DataFrame) -> None:
    """Compute every output column without collecting: the noop sink."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str  # registry name, or catalog method plus dataset
    call: Callable[[], Any]
    action: Callable[[Any], Any] | None = None
    # per-layer metric this op's latency adds to in a traced run
    metric: str = "queries"
    kind: str = "query"  # query | write | read | meta
    # counters to record after the op, outside its timer
    then: Callable[[], dict] | None = None


@dataclass
class Check:
    """Outcome of one output check."""
    name: str
    problems: list[str]


class Workload:
    name = ""
    why = ""
    # the layers (besides session, sources, spark and verify, which
    # every workload calls) that the passes call
    LAYERS: frozenset[str] = frozenset()
    # untimed passes before the timed ones, counted in set-up
    WARM_PASSES = 1

    def __init__(self, spark, data_dir: str, work_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir

    def pass_ops(self, rng: random.Random, warm: bool = False) -> list[Op]:
        """One pass in seed order. With ``warm``, a query workload
        collects each op's output for ``check``."""
        raise NotImplementedError

    def check(self, tracer, rng: random.Random) -> list[Check]:
        raise NotImplementedError

    def sources(self) -> list[tuple[str, Callable[[], DataFrame]]]:
        raise NotImplementedError


def _specs(names) -> dict:
    from distributed_computing_projects_spark.queries import load_registry

    registry = load_registry()
    # keyed by registry name: wrapped specs report fn.__name__ == "run"
    return {n: registry[n] for n in names}


def query_probe_ops(spark, data_dir: str, reps: int) -> list[Op]:
    """The queries-layer probe of a workload that calls no registry
    query: ``grep``, the paper's first query, ``reps`` times."""
    fn = _specs(["grep"])["grep"].fn
    return [Op("grep", lambda: fn(spark, data_dir), force) for _ in range(reps)]


class QueryWorkload(Workload):
    """Registry queries, each forced by the noop sink, each checked once
    against its DuckDB oracle."""

    LAYERS = frozenset({"queries", "functions"})
    QUERIES: tuple[str, ...] = ()
    TABLES: tuple[str, ...] = ()

    def __init__(self, spark, data_dir, work_dir):
        super().__init__(spark, data_dir, work_dir)
        self.specs = _specs(self.QUERIES)
        self.outputs: dict = {}

    def _op(self, name: str, warm: bool) -> Op:
        fn = self.specs[name].fn
        if warm:
            def action(df):
                self.outputs[name] = df.toPandas()
        else:
            action = force
        return Op(name, lambda: fn(self.spark, self.data_dir), action)

    def pass_ops(self, rng, warm=False):
        names = list(self.QUERIES)
        rng.shuffle(names)
        return [self._op(n, warm) for n in names]

    def check(self, tracer, rng):
        from distributed_computing_projects_spark import verify

        con = verify.duck_con(self.data_dir)
        out = []
        try:
            for name, spec in self.specs.items():
                if name not in self.outputs:
                    out.append(Check(name, ["no output: the op raised"]))
                    continue
                want = con.execute(spec.oracle).fetchdf()
                with tracer.span("verify.compare", op=name):
                    problems = verify.compare(name, self.outputs[name], want)
                out.append(Check(name, problems))
        finally:
            con.close()
        return out

    def sources(self):
        from distributed_computing_projects_spark.sources.registry import load_table

        return [(t, lambda t=t: load_table(self.spark, self.data_dir, t))
                for t in self.TABLES]


class MapReduceRef(QueryWorkload):
    name = "mapreduce_ref"
    why = ("the paper's grep/MapleJuice/condorcet query surface: shuffle "
           "and JVM codegen bound, almost no container decoding")
    QUERIES = ("grep", "grep_count", "grep_logs", "tail_n", "wordcount",
               "maplejuice_wordcount", "wine_filter_agg", "wine_csv_agg",
               "condorcet_round1", "condorcet_winner")
    TABLES = ("documents", "lineitem", "supplier")
    WARM_PASSES = 3

    def sources(self):
        from distributed_computing_projects_spark.queries.reference import (
            LOGS_DIR,
            WINE_CSV,
        )
        from distributed_computing_projects_spark.sources.csv import (
            WINE_SCHEMA,
            read_csv,
        )
        from distributed_computing_projects_spark.sources.text import read_lines

        return super().sources() + [
            ("logs", lambda: read_lines(self.spark, LOGS_DIR)),
            ("wine_csv", lambda: read_csv(self.spark, WINE_CSV, WINE_SCHEMA,
                                          header=True, malformed="drop")),
        ]


def _maplejuice_wordcount(lines: DataFrame, maple, juice) -> DataFrame:
    # maple/juice functions travel to the workers by value (closures),
    # since this module is not importable there
    def wc_maple(line):
        import re

        for w in re.split(r"\s+", line, flags=re.ASCII):
            if w:
                yield w, "1"

    def wc_juice(key, values):
        return str(sum(int(v) for v in values))

    return juice(maple(lines, wc_maple), wc_juice)


def _cached(spark, data_dir: str, table: str, *cols: str) -> DataFrame:
    from distributed_computing_projects_spark.sources.registry import load_table

    df = load_table(spark, data_dir, table)
    df = (df.select(*cols) if cols else df).cache()
    df.count()
    return df


def operator_probes(spark, data_dir: str) -> list[tuple[str, Callable[[], DataFrame]]]:
    """Every operator the two query workloads' ops use, each built on
    cached inputs so the scan is excluded. The caller uncaches them."""
    from distributed_computing_projects_spark.operators import dedup as D
    from distributed_computing_projects_spark.operators import similarity as S
    from distributed_computing_projects_spark.operators.condorcet import condorcet
    from distributed_computing_projects_spark.operators.grep import grep
    from distributed_computing_projects_spark.operators.maplejuice import (
        juice,
        maple,
    )
    from distributed_computing_projects_spark.operators.wine import (
        token_occurrence_agg,
    )
    from distributed_computing_projects_spark.operators.wordcount import wordcount
    from distributed_computing_projects_spark.queries.ext_ann import KNN_K
    from distributed_computing_projects_spark.queries.ext_fragments import (
        MINHASH_THRESHOLD,
    )
    from distributed_computing_projects_spark.queries.reference import GREP_PATTERN

    docs = _cached(spark, data_dir, "documents")
    emb = _cached(spark, data_dir, "embeddings")
    ranks = (
        _cached(spark, data_dir, "lineitem", "l_orderkey", "l_suppkey", "l_linenumber")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.min("l_linenumber").alias("r"))
    )
    ballots = ranks.groupBy("l_orderkey").agg(
        F.expr("array_sort(collect_list(struct(r AS r, l_suppkey AS s)))")
        .alias("ballot")).cache()
    ballots.count()
    candidates = _cached(spark, data_dir, "supplier", "s_suppkey").withColumnRenamed(
        "s_suppkey", "candidate")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text",
                                threshold=MINHASH_THRESHOLD).cache()
    pairs.count()
    return [
        ("operators.grep_s",
         lambda: grep(docs, GREP_PATTERN, text_col="text",
                      provenance_cols=["doc_id"])),
        ("operators.wordcount_s", lambda: wordcount(docs, "text")),
        ("operators.maplejuice_s", lambda: _maplejuice_wordcount(
            docs.select("text"), maple, juice)),
        ("operators.token_occurrence_agg_s",
         lambda: token_occurrence_agg(docs, F.col("lang") == "en", "text",
                                      "spark", "source")),
        ("operators.condorcet_s",
         lambda: condorcet(ballots, "ballot", candidates=candidates,
                           ranked=True)),
        ("operators.minhash_lsh_pairs_s",
         lambda: D.minhash_lsh_pairs(docs, "doc_id", "text",
                                     threshold=MINHASH_THRESHOLD)),
        ("operators.neardup_clusters_s", lambda: D.neardup_clusters(pairs)),
        ("operators.knn_join_s",
         lambda: S.knn_join(emb, "vec_id", "embedding", KNN_K)),
    ]


class PipelineIngestDedup(QueryWorkload):
    name = "pipeline_ingest_dedup"
    why = ("LLM-data-pipeline headliners: container decoders in Python "
           "workers, LSH candidate joins, driver staging")
    QUERIES = ("warc_gz_extract_responses", "pdf_extract_text",
               "tfrecord_scan", "wikidump_plain_text", "docx_extract_text",
               "dedup_minhash_lsh", "knn_join_topk", "dedup_clusters")
    TABLES = ("documents", "events", "embeddings")


class CatalogPutGet(Workload):
    """One pass is one catalog cycle over a seed-chosen quarter of
    ``lineitem``: put it as parquet, orc and json and partitioned by
    ``l_returnflag``; read each back with a count and with a filtered
    aggregate; ls, store; delete every dataset."""

    name = "catalog_put_get"
    why = ("the SDFS storage surface: the only workload that writes, with "
           "writes beside reads on one layer")
    LAYERS = frozenset({"catalog"})
    WARM_PASSES = 6
    SLICES = 4
    FORMATS = ("parquet", "orc", "json")
    PARTITIONED = "li_part"

    def __init__(self, spark, data_dir, work_dir):
        super().__init__(spark, data_dir, work_dir)
        from distributed_computing_projects_spark.catalog import Catalog

        self.catalog = Catalog(spark, os.path.join(work_dir, "catalog"))
        source = os.path.join(data_dir, "lineitem.parquet")
        self.source_bytes = os.path.getsize(source)
        # each slice is staged as a file of its own (with pyarrow, so no
        # Spark job runs before the warm pass): every pass then plans
        # the same scan whichever slice it takes, where a filter on
        # ``l_orderkey % SLICES == k`` would generate and JIT-compile
        # new code for each k
        table = pq.read_table(source)
        keys = table["l_orderkey"].to_numpy() % self.SLICES
        os.makedirs(os.path.join(work_dir, "slices"), exist_ok=True)
        self.slice_paths, self.slice_rows = {}, {}
        for k in range(self.SLICES):
            part = table.filter(pa.array(keys == k))
            self.slice_paths[k] = os.path.join(work_dir, "slices", f"lineitem-{k}.parquet")
            pq.write_table(part, self.slice_paths[k])
            self.slice_rows[k] = part.num_rows
        self.total_rows = table.num_rows
        self.names = [f"li_{f}" for f in self.FORMATS] + [self.PARTITIONED]

    def _slice(self, k: int) -> DataFrame:
        return self.spark.read.parquet(self.slice_paths[k])

    @staticmethod
    def _agg(df: DataFrame) -> DataFrame:
        return (df.where(F.col("l_discount") >= 0.05)
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty")))

    def _puts(self, k: int) -> list[Op]:
        part = self._slice(k)
        ops = [Op(f"put.{f}", lambda f=f: self.catalog.put(f"li_{f}", part, fmt=f),
                  metric=f"catalog.put_s.{f}", kind="write")
               for f in self.FORMATS]
        ops.append(Op("put_partitioned",
                      lambda: self.catalog.put_partitioned(
                          self.PARTITIONED, part, ["l_returnflag"]),
                      metric="catalog.put_partitioned_s", kind="write"))
        return ops

    def pass_ops(self, rng, warm=False):
        k = rng.randrange(self.SLICES)
        puts = self._puts(k)
        gets = [Op(f"get_count.{n}", lambda n=n: self.catalog.get(n),
                   lambda df: df.count(), "catalog.get_count_s", "read")
                for n in self.names]
        gets += [Op(f"get_agg.{n}", lambda n=n: self._agg(self.catalog.get(n)),
                    lambda df: df.collect(), "catalog.get_agg_s", "read")
                 for n in self.names]
        meta = [Op(f"ls.{n}", lambda n=n: self.catalog.ls(n),
                   metric="catalog.ls_s", kind="meta") for n in self.names]
        meta.append(Op("store", self.catalog.store, metric="catalog.store_s",
                       kind="meta"))
        deletes = [Op(f"delete.{n}", lambda n=n: self.catalog.delete(n),
                      metric="catalog.delete_s", kind="write")
                   for n in self.names]
        for group in (puts, gets, meta, deletes):
            rng.shuffle(group)
        puts[-1].then = lambda: self._stored(k)
        return puts + gets + meta + deletes

    def _stored(self, k: int) -> dict:
        """What the catalog holds after the puts of slice ``k``, against
        the slice's share of the source parquet file."""
        size = files = 0
        for dirpath, _, names in os.walk(self.catalog.root):
            for n in names:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
        share = self.source_bytes * self.slice_rows[k] / self.total_rows
        return {"catalog.bytes_written": size, "catalog.files_written": files,
                "stored_bytes_per_input_byte": size / share}

    def check(self, tracer, rng):
        from distributed_computing_projects_spark import verify

        k = rng.randrange(self.SLICES)
        for op in self._puts(k):
            op.call()
        want = self._slice(k).toPandas()
        want_hash = _frame_hash(verify.normalize(want))
        con = verify.duck_con(self.data_dir)
        try:
            want_agg = con.execute(f"""
                SELECT l_returnflag, l_linestatus, count(*) AS n,
                       sum(l_quantity) AS qty
                FROM lineitem
                WHERE l_orderkey % {self.SLICES} = {k} AND l_discount >= 0.05
                GROUP BY 1, 2""").fetchdf()
        finally:
            con.close()
        out = []
        for name in self.names:
            got = self.catalog.get(name)
            got_rows = got.toPandas()[list(want.columns)]
            got_agg = self._agg(got).toPandas()
            with tracer.span("verify.compare", op=name):
                problems = verify.compare(name, got_rows, want)
                if _frame_hash(verify.normalize(got_rows)) != want_hash:
                    problems.append("sorted-values hash differs from the put rows")
                problems += verify.compare(f"{name}.agg", got_agg, want_agg)
            out.append(Check(name, problems))
        listed = self.catalog.store()
        out.append(Check("store", [] if listed == sorted(self.names)
                         else [f"store() listed {listed}"]))
        for name in self.names:
            self.catalog.delete(name)
        left = self.catalog.store()
        out.append(Check("delete", [f"left {left}"] if left else []))
        return out

    def sources(self):
        from distributed_computing_projects_spark.sources.registry import load_table

        return [("lineitem", lambda: load_table(self.spark, self.data_dir, "lineitem"))]


def _frame_hash(df) -> str:
    import pandas as pd

    h = pd.util.hash_pandas_object(df.astype(str), index=False).values
    return hashlib.sha256(h.tobytes()).hexdigest()


WORKLOADS = {w.name: w for w in (MapReduceRef, PipelineIngestDedup, CatalogPutGet)}
