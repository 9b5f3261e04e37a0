"""One session conf: byte-driven AQE coalescing is every ``get_spark``
session's default, registry queries run on the caller's own session,
and the production-scale conf passthrough
(get_spark(extra_conf=...)) stays executable — the 100 TB
recommendation documented in OPTIMIZATION_r16/r17 is pinned here so
config guidance can't rot into prose."""

from __future__ import annotations

from distributed_computing_projects_spark.session import (
    byte_coalesced,
    conf_bytes,
    get_spark,
)


def test_conf_bytes_parses_spark_byte_strings():
    for raw, want in (("128m", 128 << 20), ("4194304b", 4194304),
                      ("134217728", 134217728), ("1g", 1 << 30),
                      ("4MB", 4 << 20), (" 2K ", 2048)):
        assert conf_bytes({"k": raw}, "k", 7) == want, raw
    # unset or unparseable: the caller's default, never a guess
    assert conf_bytes({}, "k", 7) == 7
    assert conf_bytes({"k": "1.5g"}, "k", 7) == 7


def test_one_session_carries_byte_coalescing(spark, sf_dir):
    from distributed_computing_projects_spark.queries import (
        ext_graph,
        load_registry,
    )

    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false"
    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    ) == "true"
    # a former sibling-session query: the registry holds the module's
    # own function, and its frame is bound to the caller's session
    fn = load_registry()["graph_pagerank_topk"].fn
    assert fn is ext_graph.q_graph_pagerank_topk
    assert fn(spark, sf_dir).sparkSession is spark
    assert byte_coalesced(spark) is spark


def test_get_spark_extra_conf_carries_production_settings():
    """The documented 100 TB settings land through the parameterized
    seam (conf names checked against this Spark version by actually
    setting them), without touching any other session's conf."""
    prod = {
        "spark.sql.adaptive.coalescePartitions.parallelismFirst":
            "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
    }
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    prior = {k: active.conf.get(k, None) for k in prod} if active \
        else {}
    s = get_spark(app_name="prod-seam-test", cpus=4,
                  shuffle_partitions=4, extra_conf=prod)
    try:
        # getOrCreate may return the shared session; extra_conf is
        # applied as runtime conf either way — assert it landed
        for k, v in prod.items():
            assert s.conf.get(k) == v
    finally:
        # restore so later tests see the contract session unchanged
        for k, v in prior.items():
            if v is None:
                s.conf.unset(k)
            else:
                s.conf.set(k, v)
