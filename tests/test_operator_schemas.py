"""Exact output schemas of the operators whose plans are built from SQL
fragments (``selectExpr``/``F.expr``): names, types and nullability,
pinned to what the Column-built versions produced.

Row comparisons cannot catch a type drift: Python hashes
``Decimal('0.5')`` and ``0.5`` equally, so an ``est_jaccard`` that
turned DECIMAL (a bare ``/ 16.0`` in Spark SQL is a decimal literal)
would still pass every value check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from distributed_computing_projects_spark.operators import dedup as D
from distributed_computing_projects_spark.operators import similarity as S
from distributed_computing_projects_spark.operators.spread import encode_payloads
from distributed_computing_projects_spark.sources.registry import load_table

SIG = StructField("sig", ArrayType(LongType(), True), False)
IS_NEW = StructField("_is_new", BooleanType(), True)
BAND_KEY = [
    StructField("band", IntegerType(), False),
    StructField("key", StringType(), False),
]
PAIRS = StructType([
    StructField("id_a", LongType(), True),
    StructField("id_b", LongType(), True),
    StructField("est_jaccard", DoubleType(), True),
])
INCREMENTAL = StructType([
    StructField("new_id", LongType(), True),
    StructField("corpus_id", LongType(), True),
    StructField("est_jaccard", DoubleType(), True),
])


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _flagged(docs):
    return docs.withColumn("_is_new", F.col("source") == "src0")


def test_minhash_signatures_schema(docs):
    assert D.minhash_signatures(docs, "doc_id", "text").schema == StructType([
        StructField("id", LongType(), True), SIG,
    ])
    carried = D.minhash_signatures(
        _flagged(docs), "doc_id", "text", carry=("_is_new",))
    assert carried.schema == StructType([
        StructField("id", LongType(), True), SIG, IS_NEW,
    ])


def test_banded_schema(docs):
    sigs = D.minhash_signatures(docs, "doc_id", "text")
    assert D._banded(sigs).schema == StructType([
        StructField("id", LongType(), True), SIG, *BAND_KEY,
    ])
    carried = D.minhash_signatures(
        _flagged(docs), "doc_id", "text", carry=("_is_new",))
    assert D._banded(carried, carry=("_is_new",)).schema == StructType([
        StructField("id", LongType(), True), SIG, IS_NEW, *BAND_KEY,
    ])


def test_minhash_lsh_pairs_schema(docs):
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 0.25, persist=False)
    assert pairs.schema == PAIRS


def test_lsh_incremental_pairs_schemas(docs):
    new = docs.filter("source = 'src0'")
    corpus = docs.filter("source <> 'src0'")
    assert D.lsh_incremental_pairs(
        new, corpus, "doc_id", "text", 0.25).schema == INCREMENTAL
    assert D.lsh_incremental_pairs_single_scan(
        docs, "doc_id", "text", F.col("source") == "src0", 0.25,
        persist=False).schema == INCREMENTAL


def test_knn_join_schema(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assert S.knn_join(emb, "vec_id", "embedding", 3,
                      persist=False).schema == StructType([
        StructField("id", LongType(), True),
        StructField("neighbour_id", LongType(), True),
        StructField("cosine", DoubleType(), True),
        StructField("rank", LongType(), False),
    ])


def test_encode_payloads_schema_and_argument_order(docs):
    few = docs.filter("text IS NOT NULL").orderBy("doc_id").limit(3)
    out = encode_payloads(
        few, lambda i, t, s: f"{i}|{s}|{t[:4]}".encode(),
        "doc_id", "text", "source")
    assert out.schema == StructType([
        StructField("id", LongType(), True),
        StructField("payload", BinaryType(), True),
    ])
    want = {r.doc_id: f"{r.doc_id}|{r.source}|{r.text[:4]}".encode()
            for r in few.collect()}
    assert {r.id: r.payload for r in out.collect()} == want
