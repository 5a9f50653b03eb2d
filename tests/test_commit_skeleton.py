"""Every commit runs through one skeleton, ``HudiTable._commit``: it claims
the instant, hands the body one active-timeline snapshot, cleans up after a
known-clean failure, completes, restamps the key index and runs the
post-commit services."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from incubator_hudi_spark import timeline as tl
from incubator_hudi_spark.config import COPY_ON_WRITE, MERGE_ON_READ
from incubator_hudi_spark.services.clustering import ClusteringUpdateConflict
from incubator_hudi_spark.table import HudiTable

PKG = pathlib.Path(__file__).resolve().parent.parent / "incubator_hudi_spark"
PROTOCOL_CALLS = ("_start", "_complete", "_post_commit",
                  "transition_to_completed")


def _protocol_calls(tree):
    """(enclosing Class.function, called name, line) of every call to a
    commit-protocol step."""
    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            elif (isinstance(child, ast.Call)
                  and isinstance(child.func, ast.Attribute)
                  and child.func.attr in PROTOCOL_CALLS):
                yield scope, child.func.attr, child.lineno
            yield from walk(child, inner)
    yield from walk(tree, "")


def test_commit_protocol_steps_run_only_in_the_skeleton():
    """Only ``HudiTable._commit`` claims (``_start``), completes
    (``_complete``, or ``transition_to_completed`` for the clean,
    rollback, savepoint and restore metadata) and runs ``_post_commit``;
    ``HudiTable._complete`` itself writes the completed data instant.
    ``timeline.py`` defines the transitions.  ``pyds_write.py`` is the one
    exception: the native ``hudi_py`` DataSource writer runs without a
    ``HudiTable`` (Spark's DataSource writer protocol drives it) and spells
    its own claim → inflight → complete over the bare timeline."""
    allowed = {("HudiTable._commit", c) for c in PROTOCOL_CALLS}
    allowed.add(("HudiTable._complete", "transition_to_completed"))
    found = [f"{p.relative_to(PKG.parent)}:{line} {scope} → {name}"
             for p in sorted(PKG.rglob("*.py"))
             if p.name not in ("timeline.py", "pyds_write.py")
             for scope, name, line in _protocol_calls(
                 ast.parse(p.read_text(), str(p)))
             if (scope, name) not in allowed]
    assert found == []


def _table(spark, path, lineitem, table_type):
    # default retention: ten commits before the cleaner, thirty before
    # archival and a metadata checkpoint every ten — no post-commit service
    # fires in the handful of commits below
    return HudiTable.create(
        spark, path, "t", recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate", table_type=table_type)


@pytest.mark.parametrize("table_type", [COPY_ON_WRITE, MERGE_ON_READ])
def test_listings_per_operation(spark, tmp_table_path, lineitem, table_type,
                                timeline_listings):
    """Every operation lists the active timeline once for its own snapshot
    and once for the post-commit service gates.  Measured on an instance
    that has written already: its first write runs rollback-on-start."""
    t = _table(spark, tmp_table_path, lineitem, table_type)
    t.bulk_insert(lineitem.filter("l_orderkey % 4 = 0"))
    month = t.view().partitions()[0]
    ops = {
        "insert": lambda: t.insert(lineitem.filter("l_orderkey % 4 = 1")),
        "bulk_insert": lambda: t.bulk_insert(
            lineitem.filter("l_orderkey % 4 = 2")),
        "insert_overwrite": lambda: t.insert_overwrite(
            lineitem.filter("l_orderkey % 4 = 3")),
        "insert_overwrite_table": lambda: t.insert_overwrite_table(
            lineitem.filter("l_orderkey % 2 = 0")),
        "delete_partitions": lambda: t.delete_partitions([month]),
        "truncate": t.truncate,
        # the table is empty again: the first-commit lane
        "first_upsert": lambda: t.upsert(lineitem),
    }
    listings = {name: timeline_listings(fn) for name, fn in ops.items()}
    assert len(t.timeline.completed(tl.DATA_ACTIONS)) == 8
    assert listings == dict.fromkeys(ops, 2), listings
    # the upsert preCombines the fixture's duplicate (key, month) twins
    assert t.read().count() == lineitem.selectExpr(
        "l_orderkey", "l_linenumber",
        "date_format(l_shipdate,'yyyy-MM')").distinct().count()


@pytest.mark.parametrize("table_type,operation",
                         [(COPY_ON_WRITE, "delete"),
                          (MERGE_ON_READ, "upsert")])
def test_clustering_conflict_leaves_no_debris(spark, tmp_table_path,
                                              lineitem, table_type,
                                              operation, monkeypatch):
    """A write rejected by a pending clustering plan removes its own
    requested and inflight files, so the next write on the instance has no
    debris to roll back and does not run rollback-on-start."""
    import incubator_hudi_spark.services.rollback as rollback
    t = _table(spark, tmp_table_path, lineitem, table_type)
    # two bulk loads: two small file groups per partition to cluster
    t.bulk_insert(lineitem.filter("l_orderkey % 2 = 0"))
    t.bulk_insert(lineitem.filter("l_orderkey % 2 = 1"))
    assert t.schedule_clustering() is not None
    n = t.read().count()
    batch = lineitem.limit(100)
    with pytest.raises(ClusteringUpdateConflict):
        if operation == "delete":
            t.delete(batch.select("l_orderkey", "l_linenumber",
                                  "l_shipdate"))
        else:
            t.upsert(batch.withColumn("l_quantity", F.lit(5.0)))
    assert not [p for p in t.timeline.pending()
                if p.action in (tl.COMMIT, tl.DELTA_COMMIT)]
    assert t._last_started is None
    calls = []
    pending = rollback.rollback_pending
    monkeypatch.setattr(rollback, "rollback_pending",
                        lambda table: calls.append(1) or pending(table))
    t.insert(lineitem.limit(10).withColumn(
        "l_orderkey", F.col("l_orderkey") + 90_000_000))
    assert calls == []
    assert t.read().count() == n + 10
