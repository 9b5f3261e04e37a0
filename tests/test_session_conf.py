"""The per-query runtime-conf seam (session.derived_session /
byte_coalesced) and the production-scale conf passthrough
(get_spark(extra_conf=...)): the 100 TB recommendation documented in
OPTIMIZATION_r16/r17 must be EXECUTABLE through these seams while the
bench session stays byte-identical — pinned here so config guidance
can't rot into prose."""

from __future__ import annotations

from distributed_computing_projects_spark.session import (
    BYTE_COALESCE_CONFS,
    byte_coalesced,
    derived_session,
    get_spark,
)


def test_derived_session_scopes_conf_and_leaves_base(spark):
    base_before = {
        k: spark.conf.get(k, None) for k in BYTE_COALESCE_CONFS
    }
    sib = byte_coalesced(spark)
    assert sib is not spark
    # same SparkContext: same executors, caches, JVM
    assert sib.sparkContext is spark.sparkContext
    for k, v in BYTE_COALESCE_CONFS.items():
        assert sib.conf.get(k) == v
    # the base session's runtime conf is untouched
    for k, v in base_before.items():
        assert spark.conf.get(k, None) == v
    # the flip is real: parallelismFirst differs across the boundary
    k = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    assert spark.conf.get(k) == "true" and sib.conf.get(k) == "false"


def test_derived_session_is_memoized_per_base_and_confs(spark):
    a = byte_coalesced(spark)
    b = byte_coalesced(spark)
    assert a is b  # bench reps reuse one sibling, no SessionState leak
    c = derived_session(spark, {"spark.sql.shuffle.partitions": "7"})
    assert c is not a
    assert c.conf.get("spark.sql.shuffle.partitions") == "7"


def test_derived_session_memo_keys_on_the_live_base(spark):
    """Two distinct bases get distinct siblings, each memoized; the
    memo holds a base only while it is alive, so a later base can never
    inherit a sibling of a stopped-and-collected one (the id() reuse
    hazard of keying on ``id(spark._jsparkSession)``)."""
    import gc

    from distributed_computing_projects_spark import session as S

    a, b = spark.newSession(), spark.newSession()
    sa, sb = byte_coalesced(a), byte_coalesced(b)
    assert sa is not sb
    assert byte_coalesced(a) is sa and byte_coalesced(b) is sb
    assert sa.sparkContext is sb.sparkContext is spark.sparkContext
    k = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    assert sa.conf.get(k) == sb.conf.get(k) == "false"
    assert a.conf.get(k) == b.conf.get(k) == "true"
    assert a in S._DERIVED_SESSIONS and b in S._DERIVED_SESSIONS
    n = len(S._DERIVED_SESSIONS)
    del a, sa
    gc.collect()
    assert len(S._DERIVED_SESSIONS) == n - 1
    assert b in S._DERIVED_SESSIONS
    assert byte_coalesced(b) is sb


def test_derived_session_inherits_builder_confs(spark):
    """Builder-time confs (AQE on, UTC timezone, broadcast threshold)
    live in the context conf, so a sibling keeps the engine contract."""
    sib = byte_coalesced(spark)
    for k in ("spark.sql.adaptive.enabled",
              "spark.sql.session.timeZone",
              "spark.sql.autoBroadcastJoinThreshold"):
        assert sib.conf.get(k) == spark.conf.get(k)


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
