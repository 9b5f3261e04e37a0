"""Results must not depend on the physical partitioning: the same
query at different shuffle-partition counts (and input repartitionings)
must produce identical values. This is the determinism contract the
numeric discipline (decimal sums, integer outputs, explicit
tie-breaks) exists to guarantee — a 1000-executor cluster picks
different partition counts than local[4], and the answers must not
move. One representative query per shape class."""

from __future__ import annotations

import re

import pytest

QUERIES = [
    "q1_pricing_summary",        # decimal-sum aggregation
    "repetition_stats",          # explode + two hash aggregates
    "dedup_minhash_lsh",         # banded self-join + distinct
    "knn_join_topk",             # bucket join + rank window
    "vocab_coverage",            # top-k slice + cumulative window
    "wordcount",                 # classic shuffle agg
]


def _rows(df):
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize("name", QUERIES)
def test_partition_count_does_not_change_values(spark, sf_dir, name):
    from distributed_computing_projects_spark.queries import load_registry

    fn = load_registry()[name].fn
    key = "spark.sql.shuffle.partitions"
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = {k: spark.conf.get(k) for k in (key, coalesce)}
    try:
        # without coalescing, 2 and 17 reduce tasks really run
        spark.conf.set(coalesce, "false")
        results = []
        for n in ("2", "17"):
            spark.conf.set(key, n)
            spark.catalog.clearCache()
            df = fn(spark, sf_dir)
            # the query runs on the session whose conf was just set
            assert df.sparkSession.conf.get(key) == n
            results.append(_rows(df))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
    at2, at17 = results
    assert at2 == at17, f"{name} values moved with partition count"


# CPU-dense per-key stages that byte-driven coalescing (the session
# default) would run in a task or two at bench scale: their by-number
# repartitions must keep every configured reduce partition
PINNED_EXCHANGES = {
    "condorcet_round1": {"l_orderkey", "a, b"},
    "q17_small_quantity_revenue": {"l_partkey"},
}


@pytest.mark.parametrize("name", sorted(PINNED_EXCHANGES))
def test_pinned_exchanges_are_not_coalesced(spark, sf_dir, name):
    from distributed_computing_projects_spark.queries import load_registry

    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    df = load_registry()[name].fn(spark, sf_dir)
    df.collect()
    # the final AQE plan exists only after the action
    plan = df._jdf.queryExecution().executedPlan()
    assert plan.isFinalPlan()
    final = plan.toString().split("== Initial Plan ==")[0].splitlines()
    reads = {}
    for i, line in enumerate(final):
        m = re.search(r"Exchange hashpartitioning\((.*), (\d+)\)", line)
        if m:
            # lines above: ShuffleQueryStage, then the stage's reader
            coalesced = "AQEShuffleRead" in final[i - 2]
            reads[re.sub(r"#\d+L?", "", m.group(1))] = (
                "coalesced" if coalesced else int(m.group(2)))
    assert reads == dict.fromkeys(PINNED_EXCHANGES[name], 4)


FILE_SOURCE_QUERIES = [
    "jsonl_zst_scan",        # binaryFile + bounded line walker
    "webdataset_scan",       # tar-shard sample walk
    "avro_events_roundtrip",  # OCF block walk + binary decode
]


@pytest.mark.parametrize("name", FILE_SOURCE_QUERIES)
def test_file_grouping_does_not_change_values(spark, sf_dir, name):
    """The r13 file-walk sources must be invariant to how binaryFile
    groups shards into partitions — a 1000-executor scan packs files
    differently than local[4], and per-file decode means the answer
    cannot depend on the packing."""
    from distributed_computing_projects_spark.queries import load_registry

    fn = load_registry()[name].fn
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, str(1 << 14))  # every file its own split
        at_small = _rows(fn(spark, sf_dir))
        spark.conf.set(key, str(1 << 30))  # everything packs together
        at_large = _rows(fn(spark, sf_dir))
    finally:
        spark.conf.set(key, saved)
    assert at_small == at_large and len(at_small) > 0
