"""Native Python DataSource (format("hudi_py")) — batch + streaming parity
with the DataFrame read path.

Reference behavior mirrored: DefaultSource.scala:111-137 (query-type
dispatch), HoodieStreamSource.scala:49-144 (instant-time offsets,
exactly-once via the Spark offset log)."""

import os

import pytest
from pyspark.sql import functions as F

from incubator_hudi_spark import (HudiTable, QUERY_INCREMENTAL,
                                  QUERY_READ_OPTIMIZED)
from incubator_hudi_spark import pyds


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    pyds.register(spark)


@pytest.fixture(scope="module")
def sample(orders):
    return orders.limit(1500).cache()


def _same(a, b):
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _make(spark, path, sample, **kw):
    t = HudiTable.create(spark, path, name="o",
                         recordkey_fields=["o_orderkey"],
                         partition_expr="date_format(o_orderdate,'yyyy')",
                         precombine_field="o_orderdate", **kw)
    t.bulk_insert(sample)
    return t


def test_cow_snapshot_and_incremental(spark, tmp_table_path, sample):
    t = _make(spark, tmp_table_path, sample)
    c1 = t.upsert(sample.limit(200).withColumn("o_comment", F.lit("u1")))
    _same(spark.read.format("hudi_py").load(tmp_table_path), t.read())
    inc = (spark.read.format("hudi_py")
           .option("hoodie.datasource.query.type", "incremental")
           .option("hoodie.datasource.read.begin.instanttime", "0")
           .option("hoodie.datasource.read.end.instanttime", c1)
           .load(tmp_table_path))
    _same(inc, t.read(QUERY_INCREMENTAL, begin="0", end=c1))


@pytest.mark.slow
def test_mor_snapshot_ro_incremental_stream(spark, tmp_table_path, sample):
    t = _make(spark, tmp_table_path, sample, table_type="MERGE_ON_READ")
    t.upsert(sample.limit(200).withColumn("o_comment", F.lit("d1")))
    t.delete(sample.limit(50).select("o_orderkey", "o_orderdate"))
    last = t.timeline.last_completed().time

    _same(spark.read.format("hudi_py").load(tmp_table_path), t.read())
    ro = (spark.read.format("hudi_py")
          .option("hoodie.datasource.query.type", "read_optimized")
          .load(tmp_table_path))
    _same(ro, t.read(QUERY_READ_OPTIMIZED))
    inc = (spark.read.format("hudi_py")
           .option("hoodie.datasource.query.type", "incremental")
           .option("hoodie.datasource.read.begin.instanttime", "0")
           .option("hoodie.datasource.read.end.instanttime", last)
           .load(tmp_table_path))
    _same(inc, t.read(QUERY_INCREMENTAL, begin="0", end=last))

    # streaming: first run drains history, a resume ships ONLY the new commit
    base = os.path.dirname(tmp_table_path)
    ckpt, out = os.path.join(base, "ck"), os.path.join(base, "out")

    def drain():
        q = (spark.readStream.format("hudi_py").load(tmp_table_path)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == t.read(QUERY_INCREMENTAL, end=last).count()
    c2 = t.upsert(sample.limit(80).withColumn("o_comment", F.lit("d2")))
    drain()
    delta = spark.read.parquet(out).count() - n1
    assert delta == t.read(QUERY_INCREMENTAL, begin=last, end=c2).count()


def test_pushdown_partition_pruning(spark, tmp_table_path, sample):
    t = _make(spark, tmp_table_path, sample)
    part = t.read().select("_hoodie_partition_path").first()[0]
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (spark.read.format("hudi_py")
               .option("hoodie.spark.python.filter.pushdown", "true")
               .load(tmp_table_path)
               .filter(F.col("_hoodie_partition_path") == part))
        _same(got, t.read().filter(F.col("_hoodie_partition_path") == part))
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_partial_update_payload_parity(spark, tmp_table_path, sample):
    """OVERWRITE_NON_DEFAULTS (partial update): null fields in newer
    versions keep stored non-null values; a delete is a merge barrier
    (no pre-delete resurrection).  The native per-slice kernel must match
    the DataFrame merge on MOR logs exactly."""
    from incubator_hudi_spark.config import PAYLOAD_OVERWRITE_NON_DEFAULTS
    t = _make(spark, tmp_table_path, sample,
              payload=PAYLOAD_OVERWRITE_NON_DEFAULTS,
              table_type="MERGE_ON_READ")
    # partial rows: status nulled (must keep stored), comment set (must win)
    part = (sample.limit(300)
            .withColumn("o_orderstatus",
                        F.lit(None).cast("string"))
            .withColumn("o_comment", F.lit("partial")))
    t.upsert(part)
    # delete barrier: delete some keys, re-insert with null status — the
    # fill may not resurrect the pre-delete status
    victims = sample.limit(40)
    t.delete(victims.select("o_orderkey", "o_orderdate"))
    t.upsert(victims.withColumn("o_orderstatus", F.lit(None).cast("string"))
                    .withColumn("o_comment", F.lit("resurrected")))
    _same(spark.read.format("hudi_py").load(tmp_table_path), t.read())


def test_schema_evolution_read(spark, tmp_table_path, sample):
    """Old files written before a widening/column-add read back through the
    native format exactly like the DataFrame path (narrow types cast up,
    missing columns null-filled)."""
    t = _make(spark, tmp_table_path, sample)
    evolved = sample.limit(300).withColumn("o_new_tag", F.lit("tagged"))
    t.upsert(evolved)
    _same(spark.read.format("hudi_py").load(tmp_table_path), t.read())


def test_time_travel_read(spark, tmp_table_path, sample):
    """as.of.instant (TimeTravelQuery): the native snapshot folds the
    timeline only up to the given instant — equals read(as_of=...)."""
    t = _make(spark, tmp_table_path, sample)
    c1 = t.timeline.last_completed().time
    t.upsert(sample.limit(250).withColumn("o_comment", F.lit("later")))
    old = (spark.read.format("hudi_py")
           .option("as.of.instant", c1).load(tmp_table_path))
    _same(old, t.read(as_of=c1))
    assert old.filter(F.col("o_comment") == "later").count() == 0


def test_explicit_column_projection(spark, tmp_table_path, sample):
    """hoodie.datasource.read.columns narrows the relation schema (the
    Python DataSource API has no pruning pushdown); dirty-slice merges still
    see the full stored schema internally."""
    t = _make(spark, tmp_table_path, sample, table_type="MERGE_ON_READ")
    t.upsert(sample.limit(100).withColumn("o_comment", F.lit("d1")))
    got = (spark.read.format("hudi_py")
           .option("hoodie.datasource.read.columns",
                   "o_orderkey,o_totalprice")
           .load(tmp_table_path))
    assert got.columns == ["o_orderkey", "o_totalprice"]
    _same(got, t.read().select("o_orderkey", "o_totalprice"))
    with pytest.raises(Exception, match="unknown columns"):
        (spark.read.format("hudi_py")
         .option("hoodie.datasource.read.columns", "nope")
         .load(tmp_table_path).collect())


def test_file_uri_path_normalized(spark, tmp_table_path, sample):
    """URI-shaped locations (file:/…, as SQL surfaces produce) resolve."""
    t = _make(spark, tmp_table_path, sample)
    got = spark.read.format("hudi_py").load("file://" + tmp_table_path)
    assert got.count() == t.read().count()


@pytest.mark.slow
def test_native_read_of_metadata_only_bootstrap(spark, tmp_path):
    """format("hudi_py") over a METADATA_ONLY-bootstrapped table: the kernel
    derives the virtual skeleton (key via the shared pandas keygen,
    partition/commit-time/file-name literals) instead of raising — parity
    with HoodieBootstrapRelation.scala's skeleton stitch and with our own
    DataFrame path (scan.bootstrap_skeleton)."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    legacy = str(tmp_path / "legacy")
    (li.withColumn("month", F.date_format("l_shipdate", "yyyy-MM"))
       .repartition(4).write.partitionBy("month").parquet(legacy))
    t = HudiTable.create(
        spark, str(tmp_path / "t"), "adopted",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate")
    c0 = t.bootstrap(legacy, mode="metadata_only")

    native = spark.read.format("hudi_py").load(str(tmp_path / "t"))
    # full parity with the DataFrame path, meta columns included except the
    # seqno (both sides mint row-order ids; values are representation detail)
    cols = [c for c in t.read().columns if c != "_hoodie_commit_seqno"]
    _same(native.select(*cols), t.read().select(*cols))
    assert native.filter(F.col("_hoodie_commit_time") == c0).count() \
        == native.count()

    # an upsert rewrites touched groups into engine-owned files; the native
    # read serves the mix of external + rewritten slices
    # deterministic batch: limit() can pick different rows across the
    # upsert's internal actions (profile vs write)
    c1 = t.upsert(li.filter("l_orderkey % 19 = 5")
                  .withColumn("l_quantity", F.lit(424.0)))
    native2 = spark.read.format("hudi_py").load(str(tmp_path / "t"))
    _same(native2.select(*cols), t.read().select(*cols))
    assert native2.filter("l_quantity = 424.0").count() \
        == t.read().filter("l_quantity = 424.0").count()

    # incremental window that excludes the bootstrap instant prunes the
    # external slices entirely
    inc = (spark.read.format("hudi_py")
           .option("hoodie.datasource.query.type", "incremental")
           .option("hoodie.datasource.read.begin.instanttime", c0)
           .option("hoodie.datasource.read.end.instanttime", c1)
           .load(str(tmp_path / "t")))
    assert inc.count() == inc.filter(F.col("_hoodie_commit_time") == c1).count()


def test_sql_using_hudi_py_watch(spark, tmp_path):
    """Spark-version watch: `CREATE TABLE … USING hudi_py` with
    OPTIONS/LOCATION.  Spark 4.1 resolves the schema but does not forward
    the stored options/location to Python-data-source scans (documented in
    pyds.py), so SQL-on-hudi rides sync.py's catalog registrations instead.
    This test SKIPS while the limitation holds and goes active — asserting
    full SQL parity — the moment the environment's Spark starts forwarding,
    so the gap self-reports when it becomes closable."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    t = HudiTable.create(
        spark, str(tmp_path / "t"), "sqlwatch",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate")
    t.bulk_insert(li.filter("l_orderkey % 10 = 1"))
    spark.sql("DROP TABLE IF EXISTS hudi_py_watch")
    spark.sql(f"""
        CREATE TABLE hudi_py_watch USING hudi_py
        OPTIONS (path '{tmp_path / "t"}')""")
    try:
        n = spark.sql("SELECT count(*) AS n FROM hudi_py_watch").first().n
    except Exception as e:
        # skip ONLY the known forwarding gap: our reader raises its
        # distinctive "path option required" ValueError when Spark hands it
        # empty options.  Any OTHER failure (schema bug, kernel regression)
        # must fail the test, not masquerade as the Spark limitation.
        msg = str(e)
        if ".load(path) / .option('path'" not in msg:
            raise
        pytest.skip("Spark still does not forward OPTIONS/LOCATION to "
                    f"Python-data-source scans: {type(e).__name__}: "
                    f"{msg[:160]}")
    finally:
        spark.sql("DROP TABLE IF EXISTS hudi_py_watch")
    # forwarding works now — the limitation is gone: demand full parity and
    # fail loudly so the docs/gap get updated
    assert n == t.read().count()


@pytest.mark.slow
def test_native_bootstrap_soft_delete_and_nullable_ints(spark, tmp_path):
    """External-slice kernel edge cases: adopted files carrying a
    _hoodie_is_deleted marker are snapshot-filtered (parity with the
    DataFrame path's drop_deleted), and nullable int columns survive the
    arrow path (no pandas float64 degradation breaking the schema cast)."""
    from incubator_hudi_spark.config import DELETE_MARKER

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    legacy = str(tmp_path / "legacy")
    (li.withColumn(DELETE_MARKER, F.expr("l_orderkey % 5 = 0"))
       .withColumn("maybe_null",
                   F.when(F.col("l_orderkey") % 3 == 0,
                          F.col("l_orderkey")).cast("long"))
       .withColumn("month", F.date_format("l_shipdate", "yyyy-MM"))
       .coalesce(2).write.partitionBy("month").parquet(legacy))
    t = HudiTable.create(
        spark, str(tmp_path / "t"), "adopted2",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate")
    t.bootstrap(legacy, mode="metadata_only")
    native = spark.read.format("hudi_py").load(str(tmp_path / "t"))
    eng = t.read()
    # soft-deleted rows dropped on BOTH paths
    assert native.filter("l_orderkey % 5 = 0").count() == 0
    assert eng.filter("l_orderkey % 5 = 0").count() == 0
    cols = [c for c in eng.columns if c != "_hoodie_commit_seqno"]
    _same(native.select(*cols), eng.select(*cols))
    # nullable int column readable with exact values
    assert dict(native.dtypes)["maybe_null"] == "bigint"
    assert native.filter("maybe_null IS NOT NULL")\
                 .filter("maybe_null != l_orderkey").count() == 0


def test_native_incremental_path_glob(spark, tmp_path):
    """hoodie.datasource.read.incr.path.glob on the native DataSource
    matches table.read(path_glob=...) exactly (shared planner)."""
    from incubator_hudi_spark.config import QUERY_INCREMENTAL
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    t = HudiTable.create(
        spark, str(tmp_path / "t"), "globt",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate")
    c1 = t.upsert(li)
    c2 = t.upsert(li.filter("l_linenumber = 1")
                  .withColumn("l_quantity", F.lit(321.0)))
    year = (li.selectExpr("date_format(l_shipdate,'yyyy') y")
            .groupBy("y").count().orderBy(F.desc("count")).first()[0])
    native = (spark.read.format("hudi_py")
              .option("hoodie.datasource.query.type", "incremental")
              .option("hoodie.datasource.read.begin.instanttime", c1)
              .option("hoodie.datasource.read.end.instanttime", c2)
              .option("hoodie.datasource.read.incr.path.glob", f"{year}-*/*")
              .load(str(tmp_path / "t")))
    api = t.read(QUERY_INCREMENTAL, begin=c1, end=c2,
                 path_glob=f"{year}-*/*")
    a = {tuple(r) for r in
         native.select("l_orderkey", "l_linenumber", "l_quantity").collect()}
    b = {tuple(r) for r in
         api.select("l_orderkey", "l_linenumber", "l_quantity").collect()}
    assert a == b and a
