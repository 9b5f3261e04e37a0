"""py4j round-trip budget for BUILDING (not running) the headline
near-dup, kNN and decoder plans.

Every py4j command is one driver-to-JVM round trip (about 0.4 ms on a
4-core host). A Column-per-element plan pays several per element — the
call, the attribute lookups, and PySpark's call-site capture around
each ``Column``/``functions`` call — so a MinHash-LSH plan built that
way took about 1,560 round trips and ~0.7 s before any Spark job ran.
Built from SQL fragments, each projection, aggregate or join condition
is one parse. The budgets sit between the two shapes, so putting a
per-element projection back on these paths fails here.

Counted on the second build: the first warms the schema memo
(``registry.load_table``). Garbage-collection releases (``m d``
commands) are left out: they are sent when Python's collector runs,
not when the plan is built, so their count differs between runs.
"""

from __future__ import annotations

import pytest
from py4j.clientserver import ClientServerConnection

from distributed_computing_projects_spark.queries import load_registry

# measured: Column-built → SQL-fragment plans, test session at sf0.001
BUILD_BUDGET = {
    "dedup_minhash_lsh": 300,  # 1,563 → 82
    "knn_join_topk": 150,  # 352 → 65
    "warc_gz_extract_responses": 165,  # 192 → 137
}

_GC_RELEASE = "m\nd\n"


def _build_round_trips(monkeypatch, spark, sf_dir, fn) -> int:
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(_GC_RELEASE):
            sent.append(command)
        return send(self, command)

    fn(spark, sf_dir)
    spark.catalog.clearCache()
    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        fn(spark, sf_dir)
    spark.catalog.clearCache()
    return len(sent)


@pytest.mark.parametrize("name", sorted(BUILD_BUDGET))
def test_build_round_trips_within_budget(monkeypatch, spark, sf_dir, name):
    n = _build_round_trips(monkeypatch, spark, sf_dir,
                           load_registry()[name].fn)
    assert 0 < n <= BUILD_BUDGET[name], (
        f"building {name} took {n} py4j round trips "
        f"(budget {BUILD_BUDGET[name]})")
