"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises every operator family from SURVEY.md §2 end-to-end:
each callable ingests driver testdata into a throwaway engine table under
/tmp, applies the operator sequence, and returns the resulting DataFrame.
``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL over the raw parquet
views computing the same final state.

Determinism rules shared by both sides:
  - record identity is (recordKey, month/year partition); preCombine keeps the
    max-precombine row, ties broken by every data column alphabetically desc
    (see writer.precombine_dedup) — the oracle mirrors that ORDER BY;
  - aggregates over doubles go through DECIMAL casts (order-independent);
  - timestamps are emitted as formatted strings.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# lineitem preCombine mirror (engine semantics → SQL)
# ---------------------------------------------------------------------------

_LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate"]
_LI_TIE = sorted(c for c in _LI_COLS if c != "l_shipdate")
_LI_ORDER = "l_shipdate DESC, " + ", ".join(f"{c} DESC" for c in _LI_TIE)

#: DuckDB CTE: lineitem deduped exactly like engine upsert ingest
_LI_DEDUP = f"""
  li_d AS (
    SELECT {', '.join(_LI_COLS)} FROM (
      SELECT *, row_number() OVER (
        PARTITION BY l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m')
        ORDER BY {_LI_ORDER}) AS _rn
      FROM lineitem) WHERE _rn = 1)
"""


def _workspace() -> str:
    d = os.environ.get("SPARK_GRAFT_WORKDIR")
    if not d:
        d = tempfile.mkdtemp(prefix="hudi_entry_")
        os.environ["SPARK_GRAFT_WORKDIR"] = d
    return d


_RECIPES: dict = {}


def _recipe(name: str, sf_dir: str, builder):
    """Build-once cache for ingested table states shared between queries."""
    key = (name, sf_dir)
    if key not in _RECIPES:
        _RECIPES[key] = builder()
    return _RECIPES[key]


def _load(spark, sf_dir, name):
    from incubator_hudi_spark.functions.io import load_table
    return load_table(spark, sf_dir, name)


def _new_path(name: str, sf_dir: str) -> str:
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return os.path.join(_workspace(), f"{sf_tag}_{name}")


# ---------------------------------------------------------------------------
# recipes (each returns the HudiTable + any instants needed by queries)
# ---------------------------------------------------------------------------

def _lineitem_table(spark, sf_dir, path, table_type="COPY_ON_WRITE", **cfg):
    from incubator_hudi_spark import HudiTable, WriteConfig
    return HudiTable.create(
        spark, path, name="lineitem",
        recordkey_fields=["l_orderkey", "l_linenumber"],
        partition_expr="date_format(l_shipdate,'yyyy-MM')",
        precombine_field="l_shipdate", table_type=table_type,
        write_config=WriteConfig(**cfg) if cfg else None)


def _orders_table(spark, sf_dir, path):
    from incubator_hudi_spark import HudiTable
    return HudiTable.create(
        spark, path, name="orders", recordkey_fields=["o_orderkey"],
        partition_expr="date_format(o_orderdate,'yyyy')",
        precombine_field="o_orderdate")


def _r_cow_upserted(spark, sf_dir):
    """upsert(lineitem) → c1; upsert(l_linenumber=1 rows with qty+1000) → c2."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("cow_upserted", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        c1 = t.upsert(li)
        c2 = t.upsert(li.filter("l_linenumber = 1")
                        .withColumn("l_quantity", F.col("l_quantity") + 1000.0))
        return {"t": t, "c1": c1, "c2": c2}
    return _recipe("cow_upserted", sf_dir, build)


def _r_cow_deleted(spark, sf_dir):
    """upsert(lineitem) → delete rows with l_returnflag='R'."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("cow_deleted", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        t.delete(li.filter("l_returnflag = 'R'"))
        return {"t": t}
    return _recipe("cow_deleted", sf_dir, build)


def _r_bulk(spark, sf_dir):
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("bulk", sf_dir))
        t.bulk_insert(_load(spark, sf_dir, "lineitem"))
        return {"t": t}
    return _recipe("bulk", sf_dir, build)


def _r_mor(spark, sf_dir):
    """MOR: upsert(lineitem); update batch lands in delta logs (no compaction)."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("mor", sf_dir),
                            table_type="MERGE_ON_READ")
        li = _load(spark, sf_dir, "lineitem")
        c1 = t.upsert(li)
        c2 = t.upsert(li.filter("l_linenumber = 1")
                        .withColumn("l_quantity", F.col("l_quantity") + 1000.0))
        return {"t": t, "c1": c1, "c2": c2}
    return _recipe("mor", sf_dir, build)


def _r_mor_compacted(spark, sf_dir):
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("mor_compacted", sf_dir),
                            table_type="MERGE_ON_READ")
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        t.upsert(li.filter("l_linenumber = 1")
                   .withColumn("l_quantity", F.col("l_quantity") + 1000.0))
        t.run_compaction()
        return {"t": t}
    return _recipe("mor_compacted", sf_dir, build)


def _r_orders_merge(spark, sf_dir):
    """MERGE INTO orders: matched & status 'F' → delete; matched else →
    totalprice*2; not matched (shifted keys +10M, price>150k) → insert."""
    def build():
        t = _orders_table(spark, sf_dir, _new_path("orders_merge", sf_dir))
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        src = (o.filter("o_orderkey % 2 = 0")
               .unionByName(o.filter("o_orderkey % 2 = 1")
                            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)))
        t.merge(src, on="t.o_orderkey = s.o_orderkey",
                when_matched=[
                    ("t.o_orderstatus = 'F'", "__DELETE__"),
                    (None, {"o_totalprice": "t.o_totalprice * 2"}),
                ],
                when_not_matched=[("s.o_totalprice > 150000", None)])
        return {"t": t}
    return _recipe("orders_merge", sf_dir, build)


def _r_orders_dml(spark, sf_dir):
    """UPDATE ... WHERE + DELETE ... WHERE on orders."""
    def build():
        t = _orders_table(spark, sf_dir, _new_path("orders_dml", sf_dir))
        t.upsert(_load(spark, sf_dir, "orders"))
        t.update({"o_orderpriority": "'0-RUSH'"}, where="o_totalprice > 250000")
        t.delete_where("o_orderstatus = 'O' and o_totalprice < 50000")
        return {"t": t}
    return _recipe("orders_dml", sf_dir, build)


def _r_orders_overwrite(spark, sf_dir):
    """insert_overwrite of the earliest year partition with capped prices;
    then delete_partitions of the latest year."""
    def build():
        t = _orders_table(spark, sf_dir, _new_path("orders_ow", sf_dir))
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        years = [r[0] for r in o.select(
            F.date_format("o_orderdate", "yyyy").alias("y")).distinct()
            .orderBy("y").collect()]
        first, last = years[0], years[-1]
        repl = (o.filter(F.date_format("o_orderdate", "yyyy") == first)
                .withColumn("o_totalprice", F.lit(1.0)))
        t.insert_overwrite(repl)
        t.delete_partitions([last])
        return {"t": t, "first": first, "last": last}
    return _recipe("orders_ow", sf_dir, build)


def _r_events_sink(spark, sf_dir):
    """Streaming sink: 4 micro-batches of events keyed by event_id."""
    def build():
        from incubator_hudi_spark import HudiTable
        from incubator_hudi_spark.streaming.sink import HudiStreamingSink
        t = HudiTable.create(
            spark, _new_path("events_sink", sf_dir), name="events",
            recordkey_fields=["event_id"],
            partition_expr="date_format(ts,'yyyy-MM-dd')",
            precombine_field="ts")
        ev = _load(spark, sf_dir, "events")
        sink = HudiStreamingSink(t, query_id="entry")
        instants = [sink(ev.filter(f"event_id % 4 = {i}"), i) for i in range(4)]
        return {"t": t, "instants": instants}
    return _recipe("events_sink", sf_dir, build)


def _r_rollback(spark, sf_dir):
    """upsert(lineitem); poison batch; rollback → original state."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("rollback", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        bad = t.upsert(li.limit(500).withColumn("l_quantity", F.lit(-1e9)))
        t.rollback(bad)
        return {"t": t}
    return _recipe("rollback", sf_dir, build)


def _r_restore(spark, sf_dir):
    """savepoint after ingest; two destructive commits; restore."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("restore", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        sp = t.savepoint()
        t.delete(li.filter("l_returnflag = 'R'"))
        t.upsert(li.limit(100).withColumn("l_extendedprice", F.lit(0.0)))
        t.restore(sp)
        return {"t": t}
    return _recipe("restore", sf_dir, build)


def _r_maintenance(spark, sf_dir):
    """clustering + cleaning + archival leave the snapshot untouched."""
    def build():
        from incubator_hudi_spark import WriteConfig
        t = _lineitem_table(spark, sf_dir, _new_path("maint", sf_dir),
                            clean_retain_commits=1)
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li.filter("l_orderkey % 3 = 0"))
        t.upsert(li.filter("l_orderkey % 3 = 1"))
        t.upsert(li.filter("l_orderkey % 3 = 2"))
        t.cluster(sort_columns=["l_orderkey"])
        t.clean()
        t.archive()
        return {"t": t}
    return _recipe("maint", sf_dir, build)


def _r_evolution(spark, sf_dir):
    """schema evolution: second batch adds l_flag column."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("evolution", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li.filter("l_linenumber <= 3"))
        t.upsert(li.filter("l_linenumber > 3").withColumn("l_flag", F.lit("new")))
        return {"t": t}
    return _recipe("evolution", sf_dir, build)


def _r_bootstrap(spark, sf_dir):
    def build():
        from incubator_hudi_spark import HudiTable
        t = HudiTable.create(spark, _new_path("bootstrap", sf_dir), name="part",
                             recordkey_fields=["p_partkey"],
                             partition_expr=None, precombine_field="p_partkey")
        t.bootstrap(os.path.join(sf_dir, "part.parquet"))
        return {"t": t}
    return _recipe("bootstrap", sf_dir, build)


def _r_bootstrap_meta(spark, sf_dir):
    def build():
        from incubator_hudi_spark import HudiTable
        t = HudiTable.create(spark, _new_path("bootstrap_meta", sf_dir),
                             name="part_meta",
                             recordkey_fields=["p_partkey"],
                             partition_expr=None, precombine_field="p_partkey")
        t.bootstrap(os.path.join(sf_dir, "part.parquet"),
                    mode="metadata_only")
        # an upsert after adoption proves the virtual-skeleton groups merge
        src = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
        t.upsert(src.filter("p_partkey % 10 = 3")
                 .withColumn("p_retailprice",
                             F.col("p_retailprice") + 1000.0))
        return {"t": t}
    return _recipe("bootstrap_meta", sf_dir, build)


# ---------------------------------------------------------------------------
# the flagship entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ingest sf0.001 lineitem (upsert), apply an update batch, and
    run a TPC-H-Q1-style aggregation on the snapshot."""
    sf_dir = "/root/testdata/sf0.001"
    r = _r_cow_upserted(spark, sf_dir)
    snap = r["t"].read()
    return (snap.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_base_price"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn
    return deco


# ---- write path + snapshot reads -----------------------------------------

@q("bulk_insert_roundtrip", f"""
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts,
       l_quantity, l_extendedprice, l_returnflag, l_linestatus
FROM lineitem
""")
def bulk_insert_roundtrip(spark, sf_dir):
    """bulk_insert preserves every input row (no dedup, reference semantics)."""
    t = _r_bulk(spark, sf_dir)["t"]
    return t.read().select(
        "l_orderkey", "l_linenumber",
        F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"),
        "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")


@q("cow_upsert_snapshot", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts,
       CASE WHEN l_linenumber = 1 THEN l_quantity + 1000.0 ELSE l_quantity END AS l_quantity,
       l_extendedprice, l_returnflag
FROM li_d
""")
def cow_upsert_snapshot(spark, sf_dir):
    """upsert ingest + update batch → merged snapshot (full rows)."""
    t = _r_cow_upserted(spark, sf_dir)["t"]
    return t.read().select(
        "l_orderkey", "l_linenumber",
        F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"),
        "l_quantity", "l_extendedprice", "l_returnflag")


@q("cow_snapshot_agg_q1", f"""
WITH {_LI_DEDUP},
state AS (
  SELECT l_returnflag, l_linestatus,
         CASE WHEN l_linenumber = 1 THEN l_quantity + 1000.0 ELSE l_quantity END AS qty,
         l_extendedprice, l_discount
  FROM li_d)
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(qty AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS sum_disc_price,
       count(*) AS count_order
FROM state GROUP BY l_returnflag, l_linestatus
""")
def cow_snapshot_agg_q1(spark, sf_dir):
    """TPC-H-Q1-style aggregation over the merged snapshot.

    Money sums are returned as exact integer cents (decimal sum × 100 →
    BIGINT): decimal aggregation is order-independent and int64 hashes
    identically across engines, unlike DECIMAL scale/float renderings.
    """
    t = _r_cow_upserted(spark, sf_dir)["t"]
    return (t.read().groupBy("l_returnflag", "l_linestatus")
            .agg((F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_qty"),
                 (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_base_price"),
                 (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")) * 10000)
                 .cast("long").alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order")))


@q("cow_incremental_pull", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts,
       l_quantity + 1000.0 AS l_quantity
FROM li_d WHERE l_linenumber = 1
""")
def cow_incremental_pull(spark, sf_dir):
    """incremental (c1, c2] returns exactly the updated records."""
    from incubator_hudi_spark import QUERY_INCREMENTAL
    r = _r_cow_upserted(spark, sf_dir)
    inc = r["t"].read(QUERY_INCREMENTAL, begin=r["c1"], end=r["c2"])
    return inc.select("l_orderkey", "l_linenumber",
                      F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"),
                      "l_quantity")


@q("incremental_glob", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts,
       l_quantity + 1000.0 AS l_quantity
FROM li_d WHERE l_linenumber = 1 AND strftime(l_shipdate, '%Y') = '1996'
""")
def incremental_glob(spark, sf_dir):
    """Incremental pull with INCR_PATH_GLOB (DataSourceOptions.scala:87-99,
    applied in IncrementalRelation.scala:64-181): the change stream (c1, c2]
    restricted to slices whose partition/file path matches the glob — here
    the 1996-* monthly partitions.  Driver-side slice filtering, so the scan
    never opens a pruned file."""
    from incubator_hudi_spark import QUERY_INCREMENTAL
    r = _r_cow_upserted(spark, sf_dir)
    inc = r["t"].read(QUERY_INCREMENTAL, begin=r["c1"], end=r["c2"],
                      path_glob="1996-*/*")
    return inc.select("l_orderkey", "l_linenumber",
                      F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"),
                      "l_quantity")


@q("incremental_glob_braces", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts,
       l_quantity + 1000.0 AS l_quantity
FROM li_d WHERE l_linenumber = 1
  AND strftime(l_shipdate, '%Y-%m') IN ('1996-01', '1996-02', '1996-03')
""")
def incremental_glob_braces(spark, sf_dir):
    """INCR_PATH_GLOB with Hadoop GlobPattern {a,b} alternation (new r6 —
    the reference compiles GlobPattern('*'+glob), IncrementalRelation.scala
    :141, whose curly braces fnmatch lacks): the change stream restricted
    to three named monthly partitions in one glob."""
    from incubator_hudi_spark import QUERY_INCREMENTAL
    r = _r_cow_upserted(spark, sf_dir)
    inc = r["t"].read(QUERY_INCREMENTAL, begin=r["c1"], end=r["c2"],
                      path_glob="1996-{01,02,03}/*")
    return inc.select("l_orderkey", "l_linenumber",
                      F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"),
                      "l_quantity")


@q("cow_point_in_time", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts, l_quantity
FROM li_d
""")
def cow_point_in_time(spark, sf_dir):
    """time travel to c1 reproduces the pre-update state."""
    r = _r_cow_upserted(spark, sf_dir)
    return r["t"].read(as_of=r["c1"]).select(
        "l_orderkey", "l_linenumber",
        F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"), "l_quantity")


@q("cow_delete", f"""
WITH {_LI_DEDUP},
victims AS (
  SELECT DISTINCT l_orderkey, l_linenumber, strftime(l_shipdate,'%Y-%m') AS m
  FROM lineitem WHERE l_returnflag = 'R')
SELECT d.l_returnflag, d.l_linestatus, count(*) AS n,
       CAST(sum(CAST(d.l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty
FROM li_d d
LEFT JOIN victims v
  ON d.l_orderkey = v.l_orderkey AND d.l_linenumber = v.l_linenumber
 AND strftime(d.l_shipdate,'%Y-%m') = v.m
WHERE v.l_orderkey IS NULL
GROUP BY d.l_returnflag, d.l_linestatus
""")
def cow_delete(spark, sf_dir):
    """hard delete by key: records with an 'R' twin are gone.
    sum_qty in exact integer hundredths (see cow_snapshot_agg_q1)."""
    t = _r_cow_deleted(spark, sf_dir)["t"]
    return (t.read().groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_qty")))


@q("filter_exists", """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey % 2 = 1
""")
def filter_exists(spark, sf_dir):
    """anti-join: rows whose key is not yet in the table."""
    from incubator_hudi_spark import HudiTable

    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("fexists", sf_dir))
        t.upsert(_load(spark, sf_dir, "lineitem").filter("l_orderkey % 2 = 0"))
        return {"t": t}
    t = _recipe("fexists", sf_dir, build)["t"]
    fresh = t.filter_exists(_load(spark, sf_dir, "lineitem"))
    return fresh.select("l_orderkey", "l_linenumber", "l_quantity")


@q("keygen_complex", """
SELECT 'l_orderkey:' || CAST(l_orderkey AS VARCHAR) || ',l_linenumber:' ||
       CAST(l_linenumber AS VARCHAR) AS record_key,
       strftime(l_shipdate, '%Y-%m') AS partition_path,
       count(*) AS n
FROM lineitem GROUP BY 1, 2
""")
def keygen_complex(spark, sf_dir):
    """ComplexKeyGenerator + timestamp partition-path expressions."""
    t = _r_bulk(spark, sf_dir)["t"]
    return (t.read().groupBy(
        F.col("_hoodie_record_key").alias("record_key"),
        F.col("_hoodie_partition_path").alias("partition_path"))
        .agg(F.count(F.lit(1)).alias("n")))


# ---- MOR -------------------------------------------------------------------

@q("mor_snapshot", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linenumber = 1 THEN l_quantity + 1000.0 ELSE l_quantity END AS l_quantity,
       l_returnflag
FROM li_d
""")
def mor_snapshot(spark, sf_dir):
    """MOR snapshot merges base + delta logs on the fly."""
    t = _r_mor(spark, sf_dir)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@q("pyds_native_write_roundtrip", f"""
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts,
       l_quantity, l_returnflag
FROM lineitem
""")
def pyds_native_write_roundtrip(spark, sf_dir):
    """Native write side (pyds_write.py, HoodieSparkSqlWriter.scala:62-257):
    df.write.format("hudi_py") auto-creates the table and bulk-inserts (every
    input row preserved, reference bulk_insert semantics); read back through
    the engine."""
    from incubator_hudi_spark import HudiTable, pyds
    pyds.register(spark)

    def build():
        path = _new_path("pyds_write", sf_dir)
        (_load(spark, sf_dir, "lineitem")
         .write.format("hudi_py")
         .option("hoodie.table.name", "lineitem")
         .option("hoodie.datasource.write.recordkey.field",
                 "l_orderkey,l_linenumber")
         .option("hoodie.spark.partitionpath.expr",
                 "date_format(l_shipdate,'yyyy-MM')")
         .option("hoodie.datasource.write.precombine.field", "l_shipdate")
         .mode("append").save(path))
        return {"t": HudiTable(spark, path)}
    t = _recipe("pyds_write", sf_dir, build)["t"]
    return t.read().select(
        "l_orderkey", "l_linenumber",
        F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"),
        "l_quantity", "l_returnflag")


@q("orc_base_cow_snapshot", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linenumber = 1 THEN l_quantity + 1000.0 ELSE l_quantity END AS l_quantity,
       l_returnflag
FROM li_d
""")
def orc_base_cow_snapshot(spark, sf_dir):
    """ORC base-file format (HoodieFileFormat.java / TableConfig
    base_format): the same upsert-then-update sequence as the parquet COW
    recipe, stored as ORC bases — identical merged snapshot."""
    def build():
        from incubator_hudi_spark import HudiTable
        t = HudiTable.create(
            spark, _new_path("orc_cow", sf_dir), name="lineitem",
            recordkey_fields=["l_orderkey", "l_linenumber"],
            partition_expr="date_format(l_shipdate,'yyyy-MM')",
            precombine_field="l_shipdate", base_format="orc")
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        t.upsert(li.filter("l_linenumber = 1")
                   .withColumn("l_quantity", F.col("l_quantity") + 1000.0))
        return {"t": t}
    t = _recipe("orc_cow", sf_dir, build)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity",
                           "l_returnflag")


@q("pyds_native_mor_snapshot", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linenumber = 1 THEN l_quantity + 1000.0 ELSE l_quantity END AS l_quantity,
       l_returnflag
FROM li_d
""")
def pyds_native_mor_snapshot(spark, sf_dir):
    """Native Python DataSource (pyds.py): spark.read.format("hudi_py") —
    per-slice pyarrow merge parity with the DataFrame MOR snapshot path
    (DefaultSource.scala:111-137 dispatch)."""
    from incubator_hudi_spark import pyds
    t = _r_mor(spark, sf_dir)["t"]
    pyds.register(spark)
    return (spark.read.format("hudi_py").load(t.meta.base_path)
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    "l_returnflag"))


@q("pyds_native_stream", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linenumber = 1 THEN l_quantity + 1000.0 ELSE l_quantity END AS l_quantity
FROM li_d
""")
def pyds_native_stream(spark, sf_dir):
    """Native streaming source (HoodieStreamSource.scala:49-144): instant-time
    offsets drained with availableNow — one shot over the full history equals
    the latest-state incremental pull, i.e. the merged snapshot."""
    import uuid

    from incubator_hudi_spark import pyds
    t = _r_mor(spark, sf_dir)["t"]
    pyds.register(spark)
    name = "pyds_stream_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="pyds_ck_")
    sq = (spark.readStream.format("hudi_py").load(t.meta.base_path)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    sq.awaitTermination(600)
    return spark.table(name).select("l_orderkey", "l_linenumber",
                                    "l_quantity")


@q("mor_read_optimized", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM li_d
""")
def mor_read_optimized(spark, sf_dir):
    """read-optimized sees only base files → the pre-update state."""
    from incubator_hudi_spark import QUERY_READ_OPTIMIZED
    t = _r_mor(spark, sf_dir)["t"]
    return t.read(QUERY_READ_OPTIMIZED).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@q("mor_incremental", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber, l_quantity + 1000.0 AS l_quantity
FROM li_d WHERE l_linenumber = 1
""")
def mor_incremental(spark, sf_dir):
    from incubator_hudi_spark import QUERY_INCREMENTAL
    r = _r_mor(spark, sf_dir)
    return r["t"].read(QUERY_INCREMENTAL, begin=r["c1"], end=r["c2"]) \
                 .select("l_orderkey", "l_linenumber", "l_quantity")


@q("mor_compaction", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linenumber = 1 THEN l_quantity + 1000.0 ELSE l_quantity END AS l_quantity,
       l_returnflag
FROM li_d
""")
def mor_compaction(spark, sf_dir):
    """after compaction the snapshot is unchanged and logs are gone."""
    t = _r_mor_compacted(spark, sf_dir)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


# ---- replacecommit family ---------------------------------------------------

@q("insert_overwrite_and_drop_partition", """
WITH years AS (
  SELECT min(strftime(o_orderdate,'%Y')) AS first, max(strftime(o_orderdate,'%Y')) AS last
  FROM orders),
state AS (
  SELECT o_orderkey, strftime(o_orderdate,'%Y') AS y,
         CASE WHEN strftime(o_orderdate,'%Y') = (SELECT first FROM years)
              THEN 1.0 ELSE o_totalprice END AS price
  FROM orders
  WHERE strftime(o_orderdate,'%Y') != (SELECT last FROM years))
SELECT y, count(*) AS n,
       CAST(sum(CAST(price AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price
FROM state GROUP BY y
""")
def insert_overwrite_and_drop_partition(spark, sf_dir):
    """sum_price in exact integer cents (see cow_snapshot_agg_q1)."""
    t = _r_orders_overwrite(spark, sf_dir)["t"]
    return (t.read().groupBy(F.col("_hoodie_partition_path").alias("y"))
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_price")))


# ---- DML ---------------------------------------------------------------------

@q("merge_into", """
WITH matched AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS price
  FROM orders
  WHERE NOT (o_orderkey % 2 = 0 AND o_orderstatus = 'F')),
inserted AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 1 AND o_totalprice > 150000)
SELECT o_orderkey, o_orderstatus, price FROM matched
UNION ALL
SELECT o_orderkey, o_orderstatus, price FROM inserted
""")
def merge_into(spark, sf_dir):
    """MERGE with conditional delete, update, and filtered insert."""
    t = _r_orders_merge(spark, sf_dir)["t"]
    return t.read().select("o_orderkey", "o_orderstatus",
                           F.col("o_totalprice").alias("price"))


def _r_sql_dml(spark, sf_dir):
    def build():
        from incubator_hudi_spark.sql import HudiSqlSession
        orders = _load(spark, sf_dir, "orders")
        hs = HudiSqlSession(spark)
        hs.sql(f"""CREATE TABLE sqlorders USING hudi OPTIONS (
                     primaryKey = 'o_orderkey',
                     preCombineField = 'o_totalprice'
                   ) LOCATION '{_new_path("sql_dml", sf_dir)}'""")
        hs.tables["sqlorders"].bulk_insert(orders)
        hs.sql("UPDATE sqlorders SET o_totalprice = o_totalprice * 2 "
               "WHERE o_orderkey % 5 = 0")
        hs.sql("DELETE FROM sqlorders WHERE o_orderkey % 9 = 0")
        (orders.filter("o_orderkey % 10 = 1")
               .selectExpr("o_orderkey", "'X' AS o_orderstatus",
                           "CAST(1.0 AS double) AS o_totalprice")
               .unionByName(
                   orders.filter("o_orderkey % 10 = 2")
                         .selectExpr("o_orderkey + 20000000 AS o_orderkey",
                                     "'N' AS o_orderstatus",
                                     "CAST(2.0 AS double) AS o_totalprice"))
         ).createOrReplaceTempView("sql_dml_src")
        hs.sql("""MERGE INTO sqlorders t USING sql_dml_src u
                  ON t.o_orderkey = u.o_orderkey
                  WHEN MATCHED THEN UPDATE SET o_totalprice = u.o_totalprice
                  WHEN NOT MATCHED THEN INSERT *""")
        return {"t": hs.tables["sqlorders"]}
    return _recipe("sql_dml", sf_dir, build)


@q("sql_dml", """
WITH s1 AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey % 9 <> 0),
src AS (
  SELECT o_orderkey AS k, 'X' AS st, 1.0 AS p FROM orders WHERE o_orderkey % 10 = 1
  UNION ALL
  SELECT o_orderkey + 20000000, 'N', 2.0 FROM orders WHERE o_orderkey % 10 = 2),
merged AS (
  SELECT s1.k, s1.st, CASE WHEN src.k IS NOT NULL THEN src.p ELSE s1.p END AS p
  FROM s1 LEFT JOIN src ON s1.k = src.k
  UNION ALL
  SELECT src.k, src.st, src.p FROM src LEFT JOIN s1 ON s1.k = src.k
  WHERE s1.k IS NULL)
SELECT k AS o_orderkey, st AS o_orderstatus, p AS o_totalprice FROM merged
""")
def sql_dml(spark, sf_dir):
    """the SQL-string statement surface (sql.py): CREATE TABLE ... USING hudi,
    UPDATE, DELETE, MERGE INTO with update + insert branches."""
    t = _r_sql_dml(spark, sf_dir)["t"]
    return t.read().select("o_orderkey", "o_orderstatus", "o_totalprice")


@q("update_delete_where", """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 250000 THEN '0-RUSH' ELSE o_orderpriority END AS o_orderpriority,
       o_totalprice
FROM orders
WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 50000)
""")
def update_delete_where(spark, sf_dir):
    t = _r_orders_dml(spark, sf_dir)["t"]
    return t.read().select("o_orderkey", "o_orderpriority", "o_totalprice")


@q("catalog_sync_external_read", """
WITH snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice, strftime(o_orderdate, '%Y') AS yr
  FROM orders)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS total_price
FROM snap WHERE yr IN ('1995', '1996')
GROUP BY o_orderstatus
""")
def catalog_sync_external_read(spark, sf_dir):
    """Metastore-level sync (sync.py sync_ddl — HiveSyncTool parity): after
    an upsert leaves superseded file versions on disk, the synced catalog
    table must still read the exact snapshot (manifest layer links only the
    latest slices), with partition pruning riding on the registered
    partition column."""
    from incubator_hudi_spark.sync import sync_ddl

    def build():
        t = _orders_table(spark, sf_dir, _new_path("orders_sync", sf_dir))
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        t.upsert(o.filter("o_orderkey % 7 = 0")
                 .withColumn("o_orderstatus", F.lit("X")))
        sync_ddl(t, name="hudi_catalog_sync_q")
        return {"t": t}
    _recipe("orders_catalog_sync", sf_dir, build)
    return spark.sql("""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
                   AS total_price
        FROM hudi_catalog_sync_q
        WHERE partition_path IN ('1995', '1996')
        GROUP BY o_orderstatus""")


# ---- streaming / ingest -------------------------------------------------------

@q("streaming_sink_events", f"""
SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '{_TS_FMT_DUCK}') AS ts_s,
       user_id, event_type, value
FROM events
""")
def streaming_sink_events(spark, sf_dir):
    """4 exactly-once micro-batches reassemble the full events table."""
    t = _r_events_sink(spark, sf_dir)["t"]
    return t.read().select(
        "event_id", F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "user_id", "event_type", "value")


@q("streaming_incremental_batch", """
SELECT event_id, user_id, value FROM events WHERE event_id % 4 = 3
""")
def streaming_incremental_batch(spark, sf_dir):
    """incremental pull between the 3rd and 4th micro-batch commits."""
    from incubator_hudi_spark import QUERY_INCREMENTAL
    r = _r_events_sink(spark, sf_dir)
    inc = r["t"].read(QUERY_INCREMENTAL, begin=r["instants"][2],
                      end=r["instants"][3])
    return inc.select("event_id", "user_id", "value")


# ---- services -----------------------------------------------------------------

@q("rollback", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM li_d
""")
def rollback(spark, sf_dir):
    """rollback of the poison commit restores the prior snapshot."""
    t = _r_rollback(spark, sf_dir)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity",
                           "l_extendedprice")


@q("savepoint_restore", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag FROM li_d
""")
def savepoint_restore(spark, sf_dir):
    t = _r_restore(spark, sf_dir)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity",
                           "l_extendedprice", "l_returnflag")


@q("clustering_cleaning_archival", f"""
WITH {_LI_DEDUP}
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty
FROM li_d GROUP BY l_returnflag
""")
def clustering_cleaning_archival(spark, sf_dir):
    """layout + retention services leave the logical table untouched.  The
    three upserts cover disjoint orderkey thirds, so per-batch (key, month)
    dedup equals the global li_d dedup.  sum_qty in exact integer
    hundredths (see cow_snapshot_agg_q1)."""
    t = _r_maintenance(spark, sf_dir)["t"]
    return (t.read().groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_qty")))


@q("scheduled_clustering_execute", f"""
WITH {_LI_DEDUP}
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty
FROM li_d GROUP BY l_returnflag
""")
def scheduled_clustering_execute(spark, sf_dir):
    """Async-style clustering: the plan is PARKED on the timeline as a
    replacecommit.requested (freezing its file groups against updates,
    SparkRejectUpdateStrategy parity), then executed by a later
    run_clustering call — the snapshot is unchanged throughout."""
    from incubator_hudi_spark.services.clustering import (
        pending_clustering_plans, run_clustering, schedule_clustering)

    def build():
        t = _lineitem_table(spark, sf_dir,
                            _new_path("sched_cluster", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        # disjoint upserts → ≥2 small file groups per partition, the shape
        # the partition-aware plan strategy targets
        t.upsert(li.filter("l_orderkey % 2 = 0"))
        t.upsert(li.filter("l_orderkey % 2 = 1"))
        ct = schedule_clustering(t, sort_columns=["l_orderkey"])
        assert ct is not None and pending_clustering_plans(t)
        run_clustering(t, instant_time=ct)
        assert not pending_clustering_plans(t)
        return {"t": t}
    t = _recipe("sched_cluster", sf_dir, build)["t"]
    return (t.read().groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_qty")))


@q("async_clustering_ingest", f"""
WITH {_LI_DEDUP},
  shifted AS (
    SELECT l_orderkey + 10000000 AS l_orderkey, l_linenumber, l_quantity
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m')
        ORDER BY {_LI_ORDER}) AS _rn
      FROM lineitem WHERE l_orderkey % 17 = 3) WHERE _rn = 1)
SELECT l_orderkey, l_linenumber, l_quantity
FROM (SELECT l_orderkey, l_linenumber, l_quantity FROM li_d
      UNION ALL SELECT * FROM shifted)
""")
def async_clustering_ingest(spark, sf_dir):
    """Async clustering daemon (AsyncClusteringService.java /
    SparkAsyncClusteringService.java): a scheduled plan drains on a worker
    thread WHILE ingest keeps committing new-key inserts — frozen groups
    guarantee the rewrite races with nothing, and the final snapshot equals
    base ∪ inserted regardless of the interleaving."""
    from incubator_hudi_spark.services.async_clustering import (
        AsyncClusteringService, pending_clustering_instants)

    def build():
        t = _lineitem_table(spark, sf_dir,
                            _new_path("async_cluster", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        # disjoint upserts → ≥2 small file groups per partition
        t.upsert(li.filter("l_orderkey % 2 = 0"))
        t.upsert(li.filter("l_orderkey % 2 = 1"))
        svc = AsyncClusteringService(t)
        st = svc.schedule_and_enqueue(sort_columns=["l_orderkey"])
        assert st is not None
        # ingest continues under the daemon: brand-new keys → insert lane,
        # which avoids the frozen groups by construction
        t.upsert(li.filter("l_orderkey % 17 = 3")
                 .withColumn("l_orderkey", F.col("l_orderkey") + 10_000_000))
        assert svc.stop() == [st]
        assert not pending_clustering_instants(t)
        return {"t": t}
    t = _recipe("async_cluster", sf_dir, build)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity")


@q("async_compaction_ingest", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_orderkey % 7 = 2 THEN l_quantity + 5000
            WHEN l_orderkey % 5 = 1 THEN l_quantity + 1000
            ELSE l_quantity END AS l_quantity
FROM li_d
""")
def async_compaction_ingest(spark, sf_dir):
    """Async compaction daemon under live ingest (SparkAsyncCompactService.java;
    streaming trigger HoodieStreamingSink.scala:92-94): a scheduled
    compaction plan drains on a worker thread WHILE upserts keep landing.
    The plan pins its file groups at their planned log set; a delta
    committed mid-compaction appends a log BUMPED PAST the compaction
    instant (pending-compaction-before-view ordering), so the merged read
    after stop() sees base′ ∪ post-plan logs — the interleaving cannot
    lose the concurrent update."""
    from incubator_hudi_spark.services.async_compaction import (
        AsyncCompactionService, pending_compaction_instants)

    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("async_compact", sf_dir),
                            table_type="MERGE_ON_READ",
                            inline_compaction=False)
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)                                       # base files
        t.upsert(li.filter("l_orderkey % 5 = 1")           # dirty logs
                 .withColumn("l_quantity", F.col("l_quantity") + 1000.0))
        svc = AsyncCompactionService(t)
        st = svc.schedule_and_enqueue()
        assert st is not None
        # ingest continues under the daemon — this delta may land before,
        # during, or after the compaction executes; all interleavings must
        # converge to the same snapshot
        t.upsert(li.filter("l_orderkey % 7 = 2")
                 .withColumn("l_quantity", F.col("l_quantity") + 5000.0))
        assert svc.stop() == [st]
        assert not pending_compaction_instants(t)
        return {"t": t}
    t = _recipe("async_compact", sf_dir, build)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity")


@q("upgrade_downgrade_roundtrip", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber, l_quantity FROM li_d
""")
def upgrade_downgrade_roundtrip(spark, sf_dir):
    """Real layout migration (UpgradeDowngrade parity): downgrade strips the
    manifests' per-file key ranges (v1 layout), upgrade backfills them from
    parquet footers — data identical before, during, and after; v2 stats
    pruning works again post-upgrade."""
    from incubator_hudi_spark.config import CURRENT_TABLE_VERSION
    from incubator_hudi_spark.services.upgrade import upgrade_table

    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("updown", sf_dir))
        t.upsert(_load(spark, sf_dir, "lineitem"))
        assert upgrade_table(t, 1) == 1               # downgrade
        assert upgrade_table(t) == CURRENT_TABLE_VERSION
        return {"t": t}
    t = _recipe("updown", sf_dir, build)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity")


@q("schema_evolution", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber, l_quantity,
       CASE WHEN l_linenumber > 3 THEN 'new' ELSE NULL END AS l_flag
FROM li_d
""")
def schema_evolution(spark, sf_dir):
    """second commit adds a column; old rows read as NULL."""
    t = _r_evolution(spark, sf_dir)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity", "l_flag")


@q("bootstrap_full_record", """
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part
""")
def bootstrap_full_record(spark, sf_dir):
    """FULL_RECORD bootstrap adopts an existing parquet dataset."""
    t = _r_bootstrap(spark, sf_dir)["t"]
    return t.read().select("p_partkey", "p_name", "p_brand", "p_type",
                           "p_size", "p_retailprice")


@q("bootstrap_metadata_only", """
SELECT p_partkey, p_name,
       CASE WHEN p_partkey % 10 = 3 THEN p_retailprice + 1000.0
            ELSE p_retailprice END AS p_retailprice
FROM part
""")
def bootstrap_metadata_only(spark, sf_dir):
    """METADATA_ONLY bootstrap: zero-rewrite adoption (virtual skeleton —
    meta columns derived by keygen expressions at scan time), then an upsert
    that rewrites only the touched file groups."""
    t = _r_bootstrap_meta(spark, sf_dir)["t"]
    return t.read().select("p_partkey", "p_name", "p_retailprice")


@q("pyds_native_bootstrap", """
SELECT CAST(p_partkey AS VARCHAR) AS rk, p_partkey, p_name,
       CASE WHEN p_partkey % 10 = 3 THEN p_retailprice + 1000.0
            ELSE p_retailprice END AS p_retailprice
FROM part
""")
def pyds_native_bootstrap(spark, sf_dir):
    """format("hudi_py") over a METADATA_ONLY-bootstrapped table with a
    post-adoption upsert: the read kernel derives the virtual skeleton for
    external slices (shared pandas keygen → rk equals the engine's record
    key) and serves the rewritten groups normally — parity with
    HoodieBootstrapRelation.scala / HoodieBootstrapRDD.scala's stitch."""
    from incubator_hudi_spark import pyds
    t = _r_bootstrap_meta(spark, sf_dir)["t"]
    pyds.register(spark)
    return (spark.read.format("hudi_py").load(t.meta.base_path)
            .select(F.col("_hoodie_record_key").alias("rk"),
                    "p_partkey", "p_name", "p_retailprice"))


@q("prepped_write_variants", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_orderkey % 9 = 3 THEN 777.0 ELSE l_quantity END AS l_quantity
FROM li_d WHERE l_orderkey % 17 <> 4
""")
def prepped_write_variants(spark, sf_dir):
    """*_prepped write variants (SparkRDDWriteClient.java:162-167, :182-188,
    deletePreppedRecords): the caller guarantees per-key uniqueness, so the
    preCombine window is skipped — batches built from the table's own
    snapshot (already unique per (key, partition)) round-trip exactly."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("prepped", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        cols = li.columns
        upd = (t.read().filter("l_orderkey % 9 = 3").select(*cols)
               .withColumn("l_quantity", F.lit(777.0)))
        t.upsert_prepped(upd)
        dels = (t.read().filter("l_orderkey % 17 = 4")
                .select("l_orderkey", "l_linenumber", "l_shipdate"))
        t.delete_prepped(dels)
        return {"t": t}
    t = _recipe("prepped", sf_dir, build)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity")


@q("schema_provider_ingest", """
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey % 6 = 5
""")
def schema_provider_ingest(spark, sf_dir):
    """Schema providers (FilebasedSchemaProvider / RowBasedSchemaProvider +
    DeltaSync's Avro conform step): a schemaless JSON drop-folder is read
    under a file-provided schema and conformed (missing column → typed null,
    extra column dropped, string numbers cast) before the upsert."""
    def build():
        from incubator_hudi_spark.sources.ingest import DFSSource, IngestJob
        from incubator_hudi_spark.sources.schema import (conform,
                                                         file_based_schema)
        o = _load(spark, sf_dir, "orders").filter("o_orderkey % 6 = 5")
        src = _new_path("schprov_src", sf_dir)
        (o.selectExpr("o_orderkey", "CAST(o_totalprice AS STRING) AS "
                      "o_totalprice", "o_orderstatus",
                      "CAST(o_orderdate AS STRING) AS o_orderdate",
                      "'junk' AS extra_col")
         .write.mode("overwrite").json(src))
        ddl_path = _new_path("schprov_ddl", sf_dir) + ".ddl"
        with open(ddl_path, "w") as f:
            f.write("o_orderkey bigint, o_totalprice double, "
                    "o_orderstatus string, o_orderdate timestamp_ntz")
        schema = file_based_schema(ddl_path)
        t = _orders_table(spark, sf_dir, _new_path("schprov", sf_dir))
        job = IngestJob(t, DFSSource(spark, src, fmt="json"),
                        transform=lambda df: conform(df, schema))
        assert job.sync_once() is not None
        return {"t": t}
    t = _recipe("schprov", sf_dir, build)["t"]
    return t.read().select("o_orderkey", "o_totalprice", "o_orderstatus")


@q("span_dedup_corpus", """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 30),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs),
spans AS (
  SELECT doc_id, CAST(i AS INT) AS span_id,
         array_to_string(ws[CAST(i AS INT)*10+1 : CAST(i AS INT)*10+10], ' ') AS span
  FROM w, unnest(range(0, greatest(CAST(ceil(len(ws)/10.0) AS BIGINT), 1))) AS t(i)),
nz AS (SELECT * FROM spans WHERE length(span) > 0),
counts AS (SELECT md5(span) AS h, count(DISTINCT doc_id) AS n_docs
           FROM nz GROUP BY 1),
joined AS (SELECT nz.doc_id, nz.span_id, nz.span, counts.n_docs
           FROM nz JOIN counts ON md5(nz.span) = counts.h),
rebuilt AS (SELECT doc_id,
                   coalesce(string_agg(CASE WHEN n_docs <= 1 THEN span END,
                                       ' ' ORDER BY span_id), '') AS text,
                   count(*) AS n_total,
                   count(CASE WHEN n_docs <= 1 THEN 1 END) AS n_kept
            FROM joined GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN r.n_total IS NULL OR r.n_kept = r.n_total THEN d.text
            ELSE r.text END AS text
FROM docs d LEFT JOIN rebuilt r USING (doc_id)
""")
def span_dedup_corpus(spark, sf_dir):
    """Corpus-wide span dedup (CCNet/Gopher paragraph-dedup generalized to
    10-word windows): spans occurring in >1 document vanish from every
    document, surviving spans reassemble in order — the 30 planted duplicate
    docs degrade to empty text, unique prose is untouched.  Plan: span
    explode → hash count (1 shuffle) → hash join (1 shuffle) → doc rebuild
    (1 shuffle); nothing quadratic at 100 TB."""
    from incubator_hudi_spark.operators.text import dedup_spans
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.filter("doc_id < 30")
               .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return dedup_spans(docs.unionByName(planted), span_words=10)


@q("exact_substring_dedup", """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, 'copied with a lead ' || text
  FROM documents WHERE doc_id < 25),
w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM docs),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(array_to_string(
             ws[CAST(i AS INT) + 1 : CAST(i AS INT) + 20], ' ')) AS h
  FROM w, unnest(range(0, greatest(len(ws) - 19, 0))) AS t(i)),
owners AS (SELECT h, min(doc_id) AS owner FROM grams GROUP BY h),
covered AS (
  SELECT DISTINCT g.doc_id, g.pos
  FROM grams g JOIN owners o USING (h) WHERE g.doc_id > o.owner),
removed AS (
  SELECT DISTINCT doc_id, CAST(pos + j AS INT) AS wi
  FROM covered, unnest(range(0, 20)) AS t(j)),
toks AS (
  SELECT w.doc_id, CAST(t.i AS INT) - 1 AS wi, ws[CAST(t.i AS INT)] AS word
  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
kept AS (SELECT toks.* FROM toks ANTI JOIN removed USING (doc_id, wi)),
rebuilt AS (SELECT doc_id, string_agg(word, ' ' ORDER BY wi) AS text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN r.n_kept = len(string_split(d.text, ' ')) THEN d.text
            ELSE coalesce(r.text, '') END AS text
FROM docs d LEFT JOIN rebuilt r USING (doc_id)
""")
def exact_substring_dedup(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. 2022's exact-substring pass,
    suffix-array-free): any word covered by a 20-word window whose exact
    text occurs in an earlier document is removed; overlapping windows
    catch arbitrarily aligned copies, so the planted lead-shifted copies
    degrade to just their lead while originals stay byte-identical.
    Linear relational plan: window-hash explode (~1 row/word) → owner
    groupBy → cover join → anti-join rebuild; no suffix array, no driver
    data."""
    from incubator_hudi_spark.operators.text import dedup_exact_substrings
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.filter("doc_id < 25")
               .withColumn("doc_id", F.col("doc_id") + 1_000_000)
               .withColumn("text", F.concat(F.lit("copied with a lead "),
                                            F.col("text"))))
    return dedup_exact_substrings(docs.unionByName(planted), min_words=20)


@q("token_budget_mix", """
WITH toks AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS t FROM documents),
totals AS (SELECT source, sum(t) AS tot FROM toks GROUP BY source),
rates AS (
  SELECT source,
         CAST(floor(least(1.0, (CASE source WHEN 'src0' THEN 0.5
                                            WHEN 'src1' THEN 0.3
                                            WHEN 'src2' THEN 0.2 END * 20000)
                          / greatest(tot, 1)) * 10000) AS BIGINT) AS thresh
  FROM totals WHERE source IN ('src0', 'src1', 'src2'))
SELECT k.doc_id, k.source
FROM toks k JOIN rates USING (source)
WHERE ('0x' || substring(md5('mix' || CAST(k.doc_id AS VARCHAR)), 1, 15))::BIGINT
      % 10000 < thresh
""")
def token_budget_mix(spark, sf_dir):
    """Training-corpus source mixing to a token budget: each source is
    hash-Bernoulli-sampled so its expected token mass hits
    weight × total_budget — one tiny per-source aggregate plus a codegen'd
    filter, no shuffle of the corpus, no per-source window funnel."""
    from incubator_hudi_spark.operators.sampling import sample_token_budget
    docs = _load(spark, sf_dir, "documents")
    out = sample_token_budget(
        docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, total_budget=20_000,
        hash_family="md5")
    return out.select("doc_id", "source")


@q("global_bloom_upsert", """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y') AS part,
       CASE WHEN o_orderkey % 5 = 0 THEN 2.5 ELSE o_totalprice END AS price,
       strftime(CASE WHEN o_orderkey % 5 = 0
                     THEN o_orderdate + INTERVAL 24 MONTH
                     ELSE o_orderdate END, '%Y-%m-%d') AS odate
FROM orders
""")
def global_bloom_upsert(spark, sf_dir):
    """GLOBAL_BLOOM with the DEFAULT update-partition-path=false
    (SparkHoodieGlobalBloomIndex.java:70-143): the stats-pruned global
    lookup tags cross-partition updates back to the record's EXISTING
    partition — `part` keeps the original year while the row's o_orderdate
    moved (contrast global_index_partition_move, which opts into moving)."""
    def build():
        from incubator_hudi_spark import HudiTable, WriteConfig
        t = HudiTable.create(
            spark, _new_path("global_bloom", sf_dir), name="orders_gb",
            recordkey_fields=["o_orderkey"],
            partition_expr="date_format(o_orderdate,'yyyy')",
            precombine_field="o_orderdate",
            write_config=WriteConfig(index_type="GLOBAL_BLOOM"))
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        t.upsert(o.filter("o_orderkey % 5 = 0")
                 .withColumn("o_orderdate",
                             F.expr("o_orderdate + INTERVAL 24 MONTHS"))
                 .withColumn("o_totalprice", F.lit(2.5)))
        return {"t": t}
    t = _recipe("global_bloom", sf_dir, build)["t"]
    return t.read().select(
        "o_orderkey", F.col("_hoodie_partition_path").alias("part"),
        F.col("o_totalprice").alias("price"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"))


@q("inmemory_index_lifecycle", f"""
WITH {_LI_DEDUP},
  shifted AS (
    SELECT l_orderkey + 30000000 AS l_orderkey, l_linenumber, l_quantity
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m')
        ORDER BY {_LI_ORDER}) AS _rn
      FROM lineitem WHERE l_orderkey % 23 = 7) WHERE _rn = 1)
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_orderkey % 6 = 2 AND l_orderkey < 30000000
            THEN 1111.0 ELSE l_quantity END AS l_quantity
FROM (SELECT l_orderkey, l_linenumber, l_quantity FROM li_d
      UNION ALL SELECT * FROM shifted)
""")
def inmemory_index_lifecycle(spark, sf_dir):
    """INMEMORY index (SparkInMemoryHashIndex.java): a pinned (key,
    partition, fg) DataFrame seeded by the first write, reused across
    update-only batches, invalidated by inserts — the lifecycle is asserted
    in-build; the snapshot must equal the plain-SIMPLE result."""
    def build():
        from incubator_hudi_spark.config import INDEX_INMEMORY
        t = _lineitem_table(spark, sf_dir, _new_path("inmem_idx", sf_dir),
                            index_type=INDEX_INMEMORY)
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)                      # empty-table write SEEDS the cache
        assert t._key_index is not None
        cached = t._key_index
        t.upsert(li.filter("l_orderkey % 6 = 2")
                 .withColumn("l_quantity", F.lit(1111.0)))
        assert t._key_index is cached     # update-only batch reuses the pin
        t.upsert(li.filter("l_orderkey % 23 = 7")
                 .withColumn("l_orderkey", F.col("l_orderkey") + 30_000_000))
        assert t._key_index is None       # inserts invalidate the cache
        return {"t": t}
    t = _recipe("inmem_idx", sf_dir, build)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity")


@q("partition_sort_layout", f"""
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts, l_quantity
FROM lineitem
""")
def partition_sort_layout(spark, sf_dir):
    """bulk_insert sort_mode=PARTITION_SORT (BulkInsertSortMode.java /
    RDDPartitionSortPartitioner): rows are key-sorted WITHIN each written
    file (verified in-build from the files themselves) and the snapshot is
    byte-identical to the input — layout is the only difference."""
    def build():
        import pyarrow.parquet as _pq

        from incubator_hudi_spark.config import META_RECORD_KEY, SORT_PARTITION
        t = _lineitem_table(spark, sf_dir, _new_path("psort", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        c = t.bulk_insert(li, sort_mode=SORT_PARTITION)
        md = t.timeline.read_metadata(
            next(i for i in t.timeline.completed() if i.time == c))
        checked = 0
        for s in md["write_stats"]:
            keys = (_pq.read_table(t.meta.abs_path(s["path"]),
                                   columns=[META_RECORD_KEY])
                    .column(0).to_pylist())
            assert keys == sorted(keys), f"unsorted file {s['path']}"
            checked += 1
        assert checked > 0
        return {"t": t}
    t = _recipe("psort", sf_dir, build)["t"]
    return t.read().select(
        "l_orderkey", "l_linenumber",
        F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"),
        "l_quantity")


@q("bulk_insert_none_mode", f"""
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts, l_quantity
FROM lineitem
""")
def bulk_insert_none_mode(spark, sf_dir):
    """bulk_insert sort_mode=NONE (BulkInsertSortMode.NONE — writer
    partitioning as-is, no sort exchange): fastest load path, same logical
    snapshot; per-file key-range stats may overlap (no pruning guarantee)."""
    def build():
        from incubator_hudi_spark.config import SORT_NONE
        t = _lineitem_table(spark, sf_dir, _new_path("bnone", sf_dir))
        t.bulk_insert(_load(spark, sf_dir, "lineitem"), sort_mode=SORT_NONE)
        return {"t": t}
    t = _recipe("bnone", sf_dir, build)["t"]
    return t.read().select(
        "l_orderkey", "l_linenumber",
        F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"),
        "l_quantity")


@q("occ_conflict_detection", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_orderkey % 7 = 1 THEN 909.5 ELSE l_quantity END AS l_quantity
FROM li_d
""")
def occ_conflict_detection(spark, sf_dir):
    """Optimistic concurrency control (TransactionManager +
    SimpleConcurrentFileWritesConflictResolutionStrategy.java): writer B's
    scope snapshots the timeline, writer A commits an overlapping update, B
    must fail its pre-commit validation and leave NO visible data — the
    final snapshot carries exactly A's update."""
    def build():
        from incubator_hudi_spark import HudiTable
        from incubator_hudi_spark.concurrency import (ConcurrentWriteConflict,
                                                      OccWriter)
        path = _new_path("occ", sf_dir)
        t = _lineitem_table(spark, sf_dir, path)
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        with OccWriter(t):                     # B's scope opens (snapshot)
            a = HudiTable.load(spark, path)    # independent writer A
            a.upsert(li.filter("l_orderkey % 7 = 1")
                     .withColumn("l_quantity", F.lit(909.5)))
            try:                               # B updates the same keys
                t.upsert(li.filter("l_orderkey % 7 = 1")
                         .withColumn("l_quantity", F.lit(-1.0)))
                raise AssertionError("expected ConcurrentWriteConflict")
            except ConcurrentWriteConflict:
                pass
        return {"t": HudiTable.load(spark, path)}  # reopen: loser rolled back
    t = _recipe("occ", sf_dir, build)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity")


@q("multi_table_ingest", f"""
WITH {_LI_DEDUP}
SELECT 'lineitem' AS tbl, (SELECT count(*) FROM li_d WHERE l_orderkey % 4 = 1) AS n
UNION ALL
SELECT 'orders' AS tbl, (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS n
""")
def multi_table_ingest(spark, sf_dir):
    """HoodieMultiTableDeltaStreamer (MultiTableIngestJob): one scheduler
    driving N (source → table) pipelines, each with its own checkpoint in
    its own commit metadata."""
    def build():
        from incubator_hudi_spark.sources.ingest import (DFSSource, IngestJob,
                                                         MultiTableIngestJob)
        li = _load(spark, sf_dir, "lineitem").filter("l_orderkey % 4 = 1")
        o = _load(spark, sf_dir, "orders").filter("o_orderkey % 3 = 0")
        src_li = _new_path("mti_src_li", sf_dir)
        src_o = _new_path("mti_src_o", sf_dir)
        li.write.mode("overwrite").parquet(src_li)
        o.write.mode("overwrite").parquet(src_o)
        t_li = _lineitem_table(spark, sf_dir, _new_path("mti_li", sf_dir))
        t_o = _orders_table(spark, sf_dir, _new_path("mti_o", sf_dir))
        job = MultiTableIngestJob([
            IngestJob(t_li, DFSSource(spark, src_li, fmt="parquet")),
            IngestJob(t_o, DFSSource(spark, src_o, fmt="parquet")),
        ])
        res = job.sync_once()
        assert set(res) == {"lineitem", "orders"} and all(res.values())
        # second sweep with no new source files is a no-op for both
        assert all(v is None for v in job.sync_once().values())
        return {"li": t_li, "o": t_o}
    r = _recipe("mti", sf_dir, build)
    a = (r["li"].read().agg(F.count(F.lit(1)).alias("n"))
         .select(F.lit("lineitem").alias("tbl"), "n"))
    b = (r["o"].read().agg(F.count(F.lit(1)).alias("n"))
         .select(F.lit("orders").alias("tbl"), "n"))
    return a.unionByName(b)


@q("metadata_table_listing", f"""
WITH {_LI_DEDUP}
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(CASE WHEN l_orderkey % 9 = 4 THEN 555.0
                          ELSE l_quantity END AS DECIMAL(18,2))) * 100
            AS BIGINT) AS sum_qty
FROM li_d GROUP BY l_returnflag
""")
def metadata_table_listing(spark, sf_dir):
    """Metadata-table file listing (HoodieBackedTableMetadata /
    files partition): the checkpoint's (partition, file_group, path) listing
    must equal the timeline-folded view EXACTLY (asserted in-build), and the
    snapshot read on top is unchanged."""
    def build():
        from incubator_hudi_spark import metadata_table as mt
        t = _lineitem_table(spark, sf_dir, _new_path("mdt", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li.filter("l_orderkey % 2 = 0"))
        t.upsert(li.filter("l_orderkey % 2 = 1"))
        t.upsert(li.filter("l_orderkey % 9 = 4")
                 .withColumn("l_quantity", F.lit(555.0)))
        ck = mt.write_checkpoint(t)
        assert ck is not None
        # the checkpoint keeps EVERY live slice version (time travel), so
        # the exact contract is: latest slices reconstructed FROM the
        # listing == the timeline-folded view, both directions — a stale
        # resurrected file OR a missing file must fail the gate
        rows = mt.files_df(t).collect()
        repl = {(r["partition"], r["file_group"])
                for r in rows if r["kind"] == "replaced"}
        latest: dict = {}
        for r in rows:
            if r["kind"] != "base" or (r["partition"], r["file_group"]) in repl:
                continue
            k = (r["partition"], r["file_group"])
            cur = latest.get(k)
            if cur is None or r["base_instant"] > cur[0]:
                latest[k] = (r["base_instant"], {r["path"]})
            elif r["base_instant"] == cur[0]:
                cur[1].add(r["path"])
        listed = {(p, fg, path) for (p, fg), (_, paths) in latest.items()
                  for path in paths}
        actual = {(sl.partition, sl.file_group, f.path)
                  for sl in t.view().latest_slices() for f in sl.base_files}
        assert listed == actual and actual, \
            f"metadata listing diverges: {len(listed)} vs {len(actual)}"
        return {"t": t}
    t = _recipe("mdt", sf_dir, build)["t"]
    return (t.read().groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_qty")))


@q("show_partitions_commits", """
SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS part FROM lineitem
""")
def show_partitions_commits(spark, sf_dir):
    """SQL inspection commands (hudi-cli CommitsCommand /
    FileSystemViewCommand surfaced as SHOW …): SHOW PARTITIONS lists the
    live partition paths; SHOW COMMITS row count is asserted in-build."""
    def build():
        from incubator_hudi_spark.sql import HudiSqlSession
        t = _lineitem_table(spark, sf_dir, _new_path("showcmd", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li.filter("l_orderkey % 2 = 0"))
        t.upsert(li.filter("l_orderkey % 2 = 1"))
        hs = HudiSqlSession(spark)
        hs.register("show_t", t)
        assert hs.sql("SHOW COMMITS show_t").count() == 2
        return {"t": t, "hs": hs}
    r = _recipe("showcmd", sf_dir, build)
    return r["hs"].sql("SHOW PARTITIONS show_t").select(
        F.col("partition").alias("part"))


# ---------------------------------------------------------------------------
# data-pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------

@q("dedup_exact", """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20),
hashed AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash
  FROM docs)
SELECT content_hash, count(*) AS group_size, min(doc_id) AS keep_id
FROM hashed GROUP BY content_hash HAVING count(*) > 1
""")
def dedup_exact(spark, sf_dir):
    """exact dedup groups over documents with 20 planted dups."""
    from incubator_hudi_spark.operators import dedup as D
    docs = _load(spark, sf_dir, "documents")
    with_dups = docs.unionByName(
        docs.filter("doc_id < 20").withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return (D.exact_duplicates(with_dups)
            .select("content_hash", "group_size", "keep_id"))


@q("ngram_jaccard", """
WITH base AS (SELECT doc_id, lang, text FROM documents WHERE doc_id < 150),
docs AS (
  SELECT doc_id, lang, lower(trim(text)) AS t FROM base
  UNION ALL
  SELECT doc_id + 1000000, lang, lower(trim(text || ' zq xw vk')) FROM base
  WHERE doc_id < 30),
sh AS (
  SELECT doc_id, lang, list_distinct(list_transform(
    range(1, greatest(len(string_split_regex(t,'\\s+')) - 2, 1) + 1),
    i -> array_to_string(string_split_regex(t,'\\s+')[i:i+2], ' '))) AS grams
  FROM docs)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5
""")
def ngram_jaccard(spark, sf_dir):
    """exact 3-gram Jaccard pairs blocked by language, with 30 planted
    near-dups so the check is non-vacuous at every scale factor."""
    from incubator_hudi_spark.operators import dedup as D
    docs = _load(spark, sf_dir, "documents").filter("doc_id < 150")
    near = (docs.filter("doc_id < 30")
            .withColumn("doc_id", F.col("doc_id") + 1_000_000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zq xw vk"))))
    return D.ngram_jaccard_pairs(docs.unionByName(near),
                                 block_col="lang", n=3, threshold=0.5)


@q("contamination_13gram", """
WITH docs AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents WHERE doc_id < 400),
grams AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(string_split_regex(t,'\\s+')) - 3, 1) + 1),
    i -> array_to_string(string_split_regex(t,'\\s+')[i:i+3], ' '))) AS g
  FROM docs),
pg AS (
  SELECT list_distinct(flatten(list(g))) AS g
  FROM grams WHERE doc_id % 97 = 3)
SELECT grams.doc_id,
       len(list_intersect(grams.g, pg.g)) AS n_contam_grams,
       len(grams.g) AS n_grams,
       CAST(floor(1000.0 * len(list_intersect(grams.g, pg.g))
                  / len(grams.g)) AS BIGINT) AS contam_milli
FROM grams, pg
""")
def contamination_13gram(spark, sf_dir):
    """Train/eval contamination report: per-doc word-4-gram overlap against
    a probe subset of the corpus (probe docs are fully contaminated by
    construction, the rest mostly clean) — the GPT-3-style decontamination
    pass as one scan + broadcast probe join."""
    from incubator_hudi_spark.operators import dedup as D
    docs = _load(spark, sf_dir, "documents").filter("doc_id < 400")
    probes = docs.filter("doc_id % 97 = 3")
    return D.contamination_report(docs, probes, n=4)


@q("text_token_counts", """
SELECT doc_id,
       len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens_ws,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
       length(text) AS n_chars
FROM documents
""")
def text_token_counts(spark, sf_dir):
    from incubator_hudi_spark.operators import text as T
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count_whitespace(F.col("text")).alias("n_tokens_ws"),
        T.token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
        F.length("text").alias("n_chars"))


@q("text_quality", """
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
       CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9_\\s]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS punct_ratio,
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS digit_ratio
FROM documents
""")
def text_quality(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t)
    return docs.select(
        "doc_id", n_chars.alias("n_chars"),
        F.size(F.split(F.lower(F.trim(t)), r"\s+")).alias("n_tokens"),
        (F.regexp_count(t, F.lit(r"[^A-Za-z0-9_\s]")).cast("double")
         / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (F.regexp_count(t, F.lit(r"[0-9]")).cast("double")
         / F.greatest(n_chars, F.lit(1))).alias("digit_ratio"))


def _lang_id_oracle() -> str:
    """CASE-chain mirror of text.detect_language: first language in sorted
    order holding the max marker-hit count wins; zero hits → unknown."""
    from incubator_hudi_spark.operators.text import LANG_MARKERS
    langs = sorted(LANG_MARKERS)
    toks = "list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))"
    hits = ",\n    ".join(
        "len(list_intersect({}, [{}])) AS h_{}".format(
            toks, ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang)
        for lang in langs)
    m = "greatest({})".format(", ".join(f"h_{lang}" for lang in langs))
    case = "CASE WHEN {m} = 0 THEN 'unknown' {whens} END".format(
        m=m, whens=" ".join(f"WHEN h_{lang} = {m} THEN '{lang}'"
                            for lang in langs))
    return f"""
WITH h AS (SELECT lang,
    {hits}
  FROM documents)
SELECT lang, {case} AS pred, count(*) AS count
FROM h GROUP BY lang, pred ORDER BY lang, pred
"""


@q("lang_id_counts", _lang_id_oracle())
def lang_id_counts(spark, sf_dir):
    """language-ID heuristic vs the generator's label, oracle-matched: the
    argmax loop is mirrored as a CASE chain over list_intersect hit counts."""
    from incubator_hudi_spark.operators import text as T
    docs = _load(spark, sf_dir, "documents")
    return (docs.withColumn("pred", T.detect_language(F.col("text")))
            .groupBy("lang", "pred").count().orderBy("lang", "pred"))


@q("ann_brute_force_topk", """
WITH queries AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.q, e.embedding) AS cosine_sim
  FROM embeddings e CROSS JOIN queries q),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cosine_sim, 6) DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 5
""")
def ann_brute_force_topk(spark, sf_dir):
    """exact cosine top-5 for 8 query vectors (similarity rounded before
    ranking so float-order differences can't flip near-ties)."""
    from incubator_hudi_spark.operators import similarity as S
    from pyspark.sql.window import Window
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding")
    scored = S.brute_force_topk(emb, queries, k=1_000_000_000)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cosine_sim", 6)), F.col("vec_id"))
    return (scored.withColumn("rank2", F.row_number().over(w))
            .filter("rank2 <= 5")
            .select("query_id", "vec_id", F.col("rank2").alias("rank")))


def _lsh_topk_oracle() -> str:
    from incubator_hudi_spark.operators.similarity import _hyperplanes
    hp = _hyperplanes(64, 4, seed=42)
    bkt = " + ".join(
        "(CASE WHEN round(list_inner_product(e, [{}]), 9) >= 0 "
        "THEN {} ELSE 0 END)".format(
            ", ".join(repr(x) for x in plane), 1 << p)
        for p, plane in enumerate(hp))
    return f"""
WITH b AS (SELECT vec_id, embedding AS e, {bkt} AS bkt FROM embeddings),
queries AS (SELECT vec_id AS query_id, e AS q, bkt FROM b WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id, list_cosine_similarity(q.q, e.e) AS cosine_sim
  FROM b e JOIN queries q ON e.bkt = q.bkt),
ranked AS (SELECT query_id, vec_id,
  row_number() OVER (PARTITION BY query_id
                     ORDER BY round(cosine_sim, 6) DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 5
"""


@q("ann_lsh_topk", _lsh_topk_oracle())
def ann_lsh_topk_q(spark, sf_dir):
    """LSH-bucketed approximate top-k (the sub-linear scale path; candidate
    set = the query's hyperplane bucket only).  Oracle-matched: DuckDB
    recomputes the same seeded buckets and rounded-cosine ranking."""
    from incubator_hudi_spark.operators import similarity as S
    from pyspark.sql.window import Window
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding")
    scored = S.lsh_topk(emb, queries, k=1_000_000_000, planes=4)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cosine_sim", 6)), F.col("vec_id"))
    return (scored.withColumn("rank2", F.row_number().over(w))
                  .filter(F.col("rank2") <= 5)
                  .select("query_id", "vec_id",
                          F.col("rank2").alias("rank")))


@q("ann_ivf_topk", """
WITH cents AS (
  SELECT embedding AS c, row_number() OVER (ORDER BY vec_id) - 1 AS cell
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
ac AS (
  SELECT e.vec_id, e.embedding AS v, c.cell,
         round(list_cosine_similarity(e.embedding, c.c), 9) AS sim
  FROM embeddings e CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cell ASC) AS rn
    FROM ac) WHERE rn = 1),
probes AS (
  SELECT query_id, q, cell FROM (
    SELECT vec_id AS query_id, v AS q, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cell DESC) AS rn
    FROM ac WHERE vec_id < 8) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id, list_cosine_similarity(a.v, p.q) AS cs
  FROM assigned a JOIN probes p ON a.cell = p.cell)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cs, 6) DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 5
""")
def ann_ivf_topk_q(spark, sf_dir):
    """IVF coarse-quantizer approximate top-k with nprobe=2, oracle-matched:
    centroids are the 8 lowest-id vectors, so DuckDB reproduces assignment
    (rounded argmax, ties → lowest cell), probe selection (ties → highest
    cell, mirroring the reversed array_sort), and the rounded-cosine rank."""
    from incubator_hudi_spark.operators import similarity as S
    from pyspark.sql.window import Window
    emb = _load(spark, sf_dir, "embeddings")
    cents = S.sample_centroids(emb, n=8)
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding")
    scored = S.ivf_topk(emb, queries, cents, k=1_000_000_000, nprobe=2,
                        round_to=9)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cosine_sim", 6)), F.col("vec_id"))
    return (scored.withColumn("rank2", F.row_number().over(w))
            .filter("rank2 <= 5")
            .select("query_id", "vec_id", F.col("rank2").alias("rank")))


@q("minhash_lsh_pairs", r"""
WITH docs AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(string_split_regex(lower(trim(text)),'\s+')) - 2, 1) + 1),
      i -> array_to_string(string_split_regex(lower(trim(text)),'\s+')[i:i+2], ' '))) AS sh
  FROM documents),
sigs AS (
  SELECT doc_id,
    list_transform(range(0, 16),
      i -> list_min(list_transform(sh, s -> md5(i::varchar || md5(s))))) AS sig
  FROM docs),
banded AS (
  SELECT doc_id, b AS band, md5(sig[b*2+1] || sig[b*2+2]) AS bh
  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b,
       len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0
         AS sig_similarity
FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id
          JOIN sigs sb ON cand.id_b = sb.doc_id
WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.7
""")
def minhash_lsh_pairs_q(spark, sf_dir):
    """MinHash+LSH near-dup pairs, oracle-matched end-to-end: the md5 hash
    family makes shingle→signature→band→bucket-join→verify reproducible in
    DuckDB (the xxhash64 family in dedup_minhash shares the same plan)."""
    from incubator_hudi_spark.operators import dedup as D
    docs = _load(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, k=16, bands=8, verify_threshold=0.7,
                               hash_family="md5") \
            .select("id_a", "id_b", "sig_similarity")


@q("simhash_pairs", r"""
WITH toks AS (
  SELECT doc_id, list_transform(
    string_split_regex(lower(trim(text)), '\s+'),
    t -> ('0x' || substring(md5(t), 1, 15))::BIGINT) AS hs
  FROM documents),
sh AS (
  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
    b -> CASE WHEN list_sum(list_transform(hs,
           h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS s
  FROM toks),
chunked AS (
  SELECT doc_id, s, c AS chunk, (s >> (c*16)) & 65535 AS ck
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.ck = b.ck
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa.s, sb.s)) AS INT) AS hamming
FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
          JOIN sh sb ON cand.id_b = sb.doc_id
WHERE bit_count(xor(sa.s, sb.s)) <= 3
""")
def simhash_pairs_q(spark, sf_dir):
    """SimHash near-dup pairs, oracle-matched via the 60-bit md5 hash family
    (the xxhash64 64-bit family shares the identical plan)."""
    from incubator_hudi_spark.operators import dedup as D
    docs = _load(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, max_hamming=3, hash_family="md5")


def _neardup_oracle() -> str:
    """LSH bucket + cosine verify with the Spark op's exact hyperplane
    literals (seeded), rounded-sign buckets, rounded-cosine threshold."""
    from incubator_hudi_spark.operators.similarity import _hyperplanes
    hp = _hyperplanes(64, 4, seed=42)
    bkt = " + ".join(
        "(CASE WHEN round(list_inner_product(e, [{}]), 9) >= 0 "
        "THEN {} ELSE 0 END)".format(
            ", ".join(repr(x) for x in plane), 1 << p)
        for p, plane in enumerate(hp))
    return f"""
WITH b AS (SELECT vec_id, embedding AS e, {bkt} AS bkt FROM embeddings)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b
FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
WHERE round(list_cosine_similarity(a.e, b2.e), 6) >= 0.30
"""


@q("embedding_neardup_pairs", _neardup_oracle())
def embedding_neardup_pairs_q(spark, sf_dir):
    """embedding-cosine near-dup pairs via LSH buckets, oracle-matched: the
    DuckDB oracle reuses the op's seeded hyperplanes, rounded-sign buckets,
    and rounded cosine threshold.  (Synthetic embeddings top out around
    cosine 0.46, so the demo threshold sits below that.)"""
    from incubator_hudi_spark.operators import similarity as S
    emb = _load(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs(emb, threshold=0.30, planes=4,
                                     round_to=6).select("id_a", "id_b")


@q("embedding_cosine_pairs", """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
           WHERE vec_id < 300)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.30
""")
def embedding_cosine_pairs_q(spark, sf_dir):
    """exact cosine near-dup pairs (the brute-force baseline the LSH variant
    approximates) — oracle-matched against DuckDB double-precision cosine."""
    from incubator_hudi_spark.operators import similarity as S
    emb = _load(spark, sf_dir, "embeddings").filter("vec_id < 300")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
             .filter(F.round(S.cosine(F.col("va"), F.col("vb")), 6) >= 0.30)
             .select("id_a", "id_b"))


def _pipeline_oracle() -> str:
    """RefinedWeb/CCNet-style pipeline mirrored end-to-end in SQL: quality
    gate → language filter → MinHash dedup (md5 family) → PII seed+scrub →
    corpus stats."""
    from incubator_hudi_spark.operators.text import LANG_MARKERS
    langs = sorted(LANG_MARKERS)
    toks = "list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))"
    hits = ", ".join(
        "len(list_intersect({}, [{}])) AS h_{}".format(
            toks, ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang)
        for lang in langs)
    mx = "greatest({})".format(", ".join(f"h_{lang}" for lang in langs))
    case = "CASE WHEN {m} = 0 THEN 'unknown' {whens} END".format(
        m=mx, whens=" ".join(
            "WHEN h_{lang} = {m} THEN '{lang}'".format(lang=lang, m=mx)
            for lang in langs))
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}"
    ip = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
    return rf"""
WITH q AS (
  SELECT doc_id, text,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9_\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio
  FROM documents),
kept AS (
  SELECT doc_id, text, n_tokens FROM q
  WHERE n_tokens >= 30 AND punct_ratio <= 0.2),
h AS (SELECT doc_id, text, n_tokens, {hits} FROM kept),
en AS (SELECT doc_id, text, n_tokens FROM h WHERE {case} = 'en'),
shing AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(string_split_regex(lower(trim(text)),'\s+')) - 2, 1) + 1),
      i -> array_to_string(string_split_regex(lower(trim(text)),'\s+')[i:i+2], ' '))) AS sh
  FROM en),
sigs AS (
  SELECT doc_id,
    list_transform(range(0, 16),
      i -> list_min(list_transform(sh, s -> md5(i::varchar || md5(s))))) AS sig
  FROM shing),
banded AS (
  SELECT doc_id, b AS band, md5(sig[b*2+1] || sig[b*2+2]) AS bh
  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id),
losers AS (
  SELECT DISTINCT cand.id_b AS doc_id
  FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id
            JOIN sigs sb ON cand.id_b = sb.doc_id
  WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.7),
surv AS (
  SELECT en.doc_id, en.text, en.n_tokens FROM en
  LEFT JOIN losers l ON en.doc_id = l.doc_id WHERE l.doc_id IS NULL),
seeded AS (
  SELECT doc_id, n_tokens,
         text || ' u' || doc_id || '@ex.com 10.0.0.' || (doc_id % 256) AS t
  FROM surv)
SELECT count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(len(regexp_extract_all(t, '{email}'))) AS BIGINT) AS n_emails,
       CAST(sum(length(regexp_replace(regexp_replace(
             regexp_replace(t, '{email}', '<EMAIL>', 'g'),
             '{phone}', '<PHONE>', 'g'),
             '{ip}', '<IP>', 'g'))) AS BIGINT) AS clean_chars
FROM seeded
"""


@q("pipeline_training_corpus", _pipeline_oracle())
def pipeline_training_corpus(spark, sf_dir):
    """Flagship composed pipeline (RefinedWeb/CCNet shape): quality gate →
    language filter → MinHash-LSH dedup (keep lowest id) → synthetic-PII
    seed + scrub → corpus stats.  Every stage is one of the engine's
    operators; the oracle mirrors the whole chain in a single SQL query.
    At 100 TB the chain is: codegen'd map stages (quality, lang, scrub) +
    one dedup (shingle agg + banded self-join + anti-join) — no Python in
    the row path anywhere."""
    from incubator_hudi_spark.operators import dedup as D
    from incubator_hudi_spark.operators import text as T
    docs = _load(spark, sf_dir, "documents")
    q_feats = T.quality_features(docs)
    kept = q_feats.filter("n_tokens >= 30 AND punct_ratio <= 0.2")
    en = (kept.withColumn("pred", T.detect_language(F.col("text")))
          .filter("pred = 'en'"))
    surv = D.dedup_minhash(en, threshold=0.7, hash_family="md5")
    seeded = surv.withColumn(
        "text", F.concat(F.col("text"), F.lit(" u"), F.col("doc_id"),
                         F.lit("@ex.com 10.0.0."),
                         F.pmod(F.col("doc_id"), F.lit(256))))
    scrubbed = T.pii_scrub(seeded)
    return scrubbed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_emails").alias("n_emails"),
        F.sum(F.length("text_clean")).alias("clean_chars"))


@q("semantic_dedup_survivors", """
WITH cents AS (
  SELECT embedding AS c, row_number() OVER (ORDER BY vec_id) - 1 AS cell
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
ac AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cell,
         round(list_cosine_similarity(e.embedding, c.c), 9) AS sim
  FROM embeddings e CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cell ASC) AS rn
    FROM ac) WHERE rn = 1),
losers AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.30)
SELECT e.vec_id FROM embeddings e
LEFT JOIN losers l ON e.vec_id = l.vec_id WHERE l.vec_id IS NULL
""")
def semantic_dedup_survivors_q(spark, sf_dir):
    """SemDeDup-style semantic dedup: k-means-cell self-join, drop members
    near a lower-id cell-mate.  Centroids = the 8 lowest-id vectors
    (sample_centroids) so DuckDB reproduces assignment and pruning."""
    from incubator_hudi_spark.operators import similarity as S
    emb = _load(spark, sf_dir, "embeddings")
    cents = S.sample_centroids(emb, n=8)
    return (S.semantic_dedup(emb, cents, threshold=0.30,
                             round_to=6, assign_round_to=9)
            .select("vec_id"))


@q("doc_fingerprint", """
SELECT doc_id,
       list_min([md5(lower(substring(text, i, 8)))
                 FOR i IN range(1, greatest(length(text)-7, 1)+1)]) AS fingerprint
FROM documents
""")
def doc_fingerprint_q(spark, sf_dir):
    """winnowing fingerprints — md5 window-hash variant so the DuckDB oracle
    reproduces values exactly (the xxhash64 fast path in text.analyze shares
    the same sequence→transform→array_min plan)."""
    from incubator_hudi_spark.operators import text as T
    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       T.doc_fingerprint_md5(F.col("text")).alias("fingerprint"))


@q("multimodal_features", """
SELECT doc_id AS media_id,
       ['image','audio','video'][(doc_id % 3)+1] AS modality,
       12 + octet_length(encode(text)) AS n_bytes,
       (('0x'||substring(md5(text),1,4))::int % 640) + 1 AS width,
       (('0x'||substring(md5(text||'h'),1,4))::int % 480) + 1 AS height,
       (('0x'||substring(md5(text||'f'),1,4))::int % 32) + 1 AS n_frames
FROM documents WHERE doc_id < 100
""")
def multimodal_features_q(spark, sf_dir):
    """binary media plumbing: synthesize → Arrow-batched feature extraction.
    The decode is stubbed (fake 12-byte header), but header values are
    md5-derived so the DuckDB oracle verifies the full mapInPandas path."""
    from incubator_hudi_spark.operators import multimodal as M
    docs = _load(spark, sf_dir, "documents").filter("doc_id < 100")
    media = M.synthesize_media_from_documents(docs)
    return M.extract_features(media, decoder=M.fake_decoder) \
            .select("media_id", "modality", "n_bytes", "width", "height", "n_frames")


# ---------------------------------------------------------------------------
# payload / index / insert-semantics coverage (SURVEY §1.1, §2.1, §2.2)
# ---------------------------------------------------------------------------

def _r_payload_default(spark, sf_dir):
    """DefaultHoodieRecordPayload event-time guard
    (DefaultHoodieRecordPayload.java:41,93): a late-arriving update (lower
    precombine) must NOT overwrite the stored row; a newer one must."""
    def build():
        from incubator_hudi_spark import HudiTable
        t = HudiTable.create(
            spark, _new_path("payload_default", sf_dir), name="orders_pd",
            recordkey_fields=["o_orderkey"], partition_expr="o_orderstatus",
            precombine_field="o_orderdate", payload="default")
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        late = (o.filter("o_orderkey % 3 = 0")
                .withColumn("o_orderdate",
                            F.expr("o_orderdate - INTERVAL 10000 DAYS"))
                .withColumn("o_totalprice", F.lit(-1.0)))
        fresh = (o.filter("o_orderkey % 3 = 1")
                 .withColumn("o_orderdate",
                             F.expr("o_orderdate + INTERVAL 10 DAYS"))
                 .withColumn("o_totalprice", F.lit(-2.0)))
        t.upsert(late.unionByName(fresh))
        return {"t": t}
    return _recipe("payload_default", sf_dir, build)


@q("payload_default_event_time_guard", """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 1 THEN -2.0 ELSE o_totalprice END AS price,
       strftime(CASE WHEN o_orderkey % 3 = 1
                     THEN o_orderdate + INTERVAL 10 DAY
                     ELSE o_orderdate END, '%Y-%m-%d') AS odate
FROM orders
""")
def payload_default_event_time_guard(spark, sf_dir):
    """DEFAULT payload: late update (precombine 10000 days older) is rejected,
    newer update (+10 days) wins — the stored-vs-incoming ordering guard."""
    t = _r_payload_default(spark, sf_dir)["t"]
    return t.read().select(
        "o_orderkey", F.col("o_totalprice").alias("price"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"))


def _r_global_index(spark, sf_dir):
    """GLOBAL_SIMPLE index (SparkHoodieGlobalSimpleIndex): an update whose
    partition expression now yields a different partition is still routed to
    the record's EXISTING partition (update-partition-path=false default,
    SparkHoodieGlobalBloomIndex.java:143)."""
    def build():
        from incubator_hudi_spark import HudiTable, WriteConfig
        t = HudiTable.create(
            spark, _new_path("global_idx", sf_dir), name="orders_gi",
            recordkey_fields=["o_orderkey"],
            partition_expr="date_format(o_orderdate,'yyyy')",
            precombine_field="o_orderdate",
            write_config=WriteConfig(index_type="GLOBAL_SIMPLE"))
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        moved = (o.filter("o_orderkey % 5 = 0")
                 .withColumn("o_orderdate",
                             F.expr("o_orderdate + INTERVAL 24 MONTHS"))
                 .withColumn("o_totalprice", F.lit(1.0)))
        t.upsert(moved)
        return {"t": t}
    return _recipe("global_idx", sf_dir, build)


@q("global_index_partition_stickiness", """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y') AS part,
       CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE o_totalprice END AS price,
       strftime(CASE WHEN o_orderkey % 5 = 0
                     THEN o_orderdate + INTERVAL 24 MONTH
                     ELSE o_orderdate END, '%Y-%m-%d') AS odate
FROM orders
""")
def global_index_partition_stickiness(spark, sf_dir):
    """global index: updated rows keep their ORIGINAL partition path even
    though the new o_orderdate maps to a different year."""
    t = _r_global_index(spark, sf_dir)["t"]
    return t.read().select(
        "o_orderkey", F.col("_hoodie_partition_path").alias("part"),
        F.col("o_totalprice").alias("price"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"))


@q("bloom_index_upsert", f"""
WITH {_LI_DEDUP}
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(CASE WHEN l_linenumber = 1 THEN l_quantity + 1000.0
                          ELSE l_quantity END AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty
FROM li_d GROUP BY l_returnflag, l_linestatus
""")
def bloom_index_upsert(spark, sf_dir):
    """BLOOM index path (key-range pruned candidate files from commit-manifest
    min/max stats, SparkHoodieBloomIndex.java:70-140): same merged snapshot
    as the SIMPLE-index upsert."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("bloom_idx", sf_dir),
                            index_type="BLOOM")
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        t.upsert(li.filter("l_linenumber = 1")
                   .withColumn("l_quantity", F.col("l_quantity") + 1000.0))
        return {"t": t}
    t = _recipe("bloom_idx", sf_dir, build)["t"]
    return (t.read().groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_qty")))


@q("insert_duplicate_semantics", """
SELECT o_orderkey, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price
FROM (SELECT * FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 7 = 0)
GROUP BY o_orderkey
""")
def insert_duplicate_semantics(spark, sf_dir):
    """insert() does NOT merge duplicate keys (SparkRDDWriteClient.java:172-178
    — no key-based routing, combine optional and off by default): inserting
    the same rows twice stores each record twice."""
    def build():
        t = _orders_table(spark, sf_dir, _new_path("insert_dups", sf_dir))
        o = _load(spark, sf_dir, "orders").filter("o_orderkey % 7 = 0")
        t.insert(o)
        t.insert(o)
        return {"t": t}
    t = _recipe("insert_dups", sf_dir, build)["t"]
    return (t.read().groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_price")))


@q("mor_delete", f"""
WITH {_LI_DEDUP},
victims AS (
  SELECT DISTINCT l_orderkey, l_linenumber, strftime(l_shipdate,'%Y-%m') AS m
  FROM lineitem WHERE l_returnflag = 'R')
SELECT d.l_returnflag, d.l_linestatus, count(*) AS n,
       CAST(sum(CAST(d.l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty
FROM li_d d
LEFT JOIN victims v
  ON d.l_orderkey = v.l_orderkey AND d.l_linenumber = v.l_linenumber
 AND strftime(d.l_shipdate,'%Y-%m') = v.m
WHERE v.l_orderkey IS NULL
GROUP BY d.l_returnflag, d.l_linestatus
""")
def mor_delete(spark, sf_dir):
    """MOR delete: tombstone delta files per file group (delete block
    equivalent, HoodieLogBlock DELETE_BLOCK); snapshot merge drops them."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("mor_deleted", sf_dir),
                            table_type="MERGE_ON_READ")
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        t.delete(li.filter("l_returnflag = 'R'"))
        return {"t": t}
    t = _recipe("mor_deleted", sf_dir, build)["t"]
    return (t.read().groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_qty")))


@q("keygen_nonpartitioned", """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 4 = 0 THEN 0.5 ELSE o_totalprice END AS price,
       count(*) AS n
FROM orders GROUP BY 1, 2
""")
def keygen_nonpartitioned(spark, sf_dir):
    """NonpartitionedKeyGenerator (NonpartitionedKeyGenerator.java:34):
    constant partition path; upserts route purely by record key."""
    def build():
        from incubator_hudi_spark import HudiTable
        t = HudiTable.create(
            spark, _new_path("nonpart", sf_dir), name="orders_np",
            recordkey_fields=["o_orderkey"], partition_expr=None,
            precombine_field="o_orderdate")
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        t.upsert(o.filter("o_orderkey % 4 = 0")
                  .withColumn("o_totalprice", F.lit(0.5)))
        return {"t": t}
    t = _recipe("nonpart", sf_dir, build)["t"]
    return (t.read().groupBy("o_orderkey",
                             F.col("o_totalprice").alias("price"))
            .agg(F.count(F.lit(1)).alias("n")))


@q("snapshot_export", f"""
WITH {_LI_DEDUP}
SELECT strftime(l_shipdate, '%Y-%m') AS part, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty
FROM li_d GROUP BY 1
""")
def snapshot_export(spark, sf_dir):
    """HoodieSnapshotExporter: frozen plain-parquet copy of the snapshot,
    partitioned by the hudi partition path; read back via vanilla
    spark.read.parquet (no engine involved)."""
    from incubator_hudi_spark import admin

    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("export_src", sf_dir))
        t.upsert(_load(spark, sf_dir, "lineitem"))
        dest = _new_path("export_out", sf_dir)
        admin.export_snapshot(t, dest)
        return {"dest": dest}
    dest = _recipe("snapshot_export", sf_dir, build)["dest"]
    return (spark.read.parquet(dest)
            .groupBy(F.col("_hoodie_partition_path").alias("part"))
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
                 .cast("long").alias("sum_qty")))


@q("schema_widening", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CASE WHEN l_linenumber = 2 THEN l_quantity + 2000.0
            ELSE l_quantity END AS l_quantity
FROM li_d
""")
def schema_widening(spark, sf_dir):
    """ALTER TABLE CHANGE COLUMN widening (int→bigint, Avro promotion):
    metadata-only; narrow stored files are read with the widened schema and
    later wide-typed upserts merge against them."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("widening", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        t.change_column("l_linenumber", "bigint")
        t.upsert(li.filter("l_linenumber = 2")
                  .withColumn("l_linenumber", F.col("l_linenumber").cast("bigint"))
                  .withColumn("l_quantity", F.col("l_quantity") + 2000.0))
        return {"t": t}
    t = _recipe("widening", sf_dir, build)["t"]
    return t.read().select("l_orderkey", "l_linenumber", "l_quantity")


@q("pii_scrub", r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' u' || doc_id || '@ex.com 10.0.0.' || (doc_id % 256) AS t
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
       md5(regexp_replace(regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}', '<PHONE>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS clean_md5
FROM seeded
""")
def pii_scrub_q(spark, sf_dir):
    """PII redaction (emails/IPv4/phones) over documents seeded with
    deterministic synthetic PII; verified via redaction counts + an md5 of
    the scrubbed text.  Pure regexp codegen — a map-only stage at scale."""
    from incubator_hudi_spark.operators import text as T
    docs = (_load(spark, sf_dir, "documents")
            .withColumn("text",
                        F.concat(F.col("text"), F.lit(" u"), F.col("doc_id"),
                                 F.lit("@ex.com 10.0.0."),
                                 F.pmod(F.col("doc_id"), F.lit(256)))))
    return (T.pii_scrub(docs)
            .select("doc_id", "n_emails", "n_ips",
                    F.md5(F.col("text_clean")).alias("clean_md5")))


@q("dup_clusters", r"""
WITH RECURSIVE docs AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(string_split_regex(lower(trim(text)),'\s+')) - 2, 1) + 1),
      i -> array_to_string(string_split_regex(lower(trim(text)),'\s+')[i:i+2], ' '))) AS sh
  FROM documents),
sigs AS (
  SELECT doc_id,
    list_transform(range(0, 16),
      i -> list_min(list_transform(sh, s -> md5(i::varchar || md5(s))))) AS sig
  FROM docs),
banded AS (
  SELECT doc_id, b AS band, md5(sig[b*2+1] || sig[b*2+2]) AS bh
  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id
            JOIN sigs sb ON cand.id_b = sb.doc_id
  WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.7),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT DISTINCT a AS v, a AS l FROM edges
  UNION
  SELECT e.b, r.l FROM reach r JOIN edges e ON r.v = e.a
)
SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v
""")
def dup_clusters_q(spark, sf_dir):
    """near-dup pair list → connected components (iterative min-label
    propagation) — the keep-one-per-cluster step of corpus dedup; oracle is
    a recursive-CTE transitive closure over the same MinHash+LSH pairs."""
    from incubator_hudi_spark.operators import dedup as D
    docs = _load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, k=16, bands=8, verify_threshold=0.7,
                                hash_family="md5")
    return D.dup_clusters(pairs)


# ---------------------------------------------------------------------------
# relational queries ON TOP of hudi tables (SURVEY §2.8: reads hand back
# genuine DataFrames, so the full Catalyst join/agg surface applies — these
# two run TPC-H-style multi-table plans entirely over engine snapshots)
# ---------------------------------------------------------------------------

def _r_tpch_tables(spark, sf_dir):
    """Every TPC-H-ish table bulk-ingested as its own hudi table (dims
    non-partitioned; facts keep their natural keys)."""
    def build():
        from incubator_hudi_spark import HudiTable
        keys = {"customer": ["c_custkey"], "orders": ["o_orderkey"],
                "supplier": ["s_suppkey"], "nation": ["n_nationkey"],
                "region": ["r_regionkey"]}
        out = {}
        for name, rk in keys.items():
            t = HudiTable.create(spark, _new_path(f"tpch_{name}", sf_dir),
                                 name=name, recordkey_fields=rk)
            t.bulk_insert(_load(spark, sf_dir, name))
            out[name] = t
        out["lineitem"] = _r_bulk(spark, sf_dir)["t"]
        return out
    return _recipe("tpch_tables", sf_dir, build)


@q("join_q3_on_hudi", """
SELECT l.l_orderkey,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l.l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS odate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
""")
def join_q3_on_hudi(spark, sf_dir):
    """TPC-H Q3 shape over three hudi snapshots — Catalyst broadcast-joins
    the dimension side and pushes both date filters into the parquet scans."""
    r = _r_tpch_tables(spark, sf_dir)
    c, o, l = r["customer"].read(), r["orders"].read(), r["lineitem"].read()
    return (c.filter("c_mktsegment = 'BUILDING'")
            .join(o, c.c_custkey == o.o_custkey)
            .filter("o_orderdate < TIMESTAMP '1995-03-15 00:00:00'")
            .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
            .filter("l_shipdate > TIMESTAMP '1995-03-15 00:00:00'")
            .groupBy("l_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
                     "o_orderpriority")
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
                  * 10000).cast("long").alias("revenue"))
            .select("l_orderkey", "revenue", "odate", "o_orderpriority"))


@q("join_q5_on_hudi", """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l.l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS revenue,
       count(*) AS n
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN supplier s ON s.s_nationkey = n.n_nationkey
JOIN customer c ON c.c_nationkey = s.s_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey AND l.l_suppkey = s.s_suppkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n.n_name
""")
def join_q5_on_hudi(spark, sf_dir):
    """TPC-H Q5 shape — a six-table join where every input is a hudi
    snapshot; local-supplier condition keeps the join graph honest."""
    r = _r_tpch_tables(spark, sf_dir)
    reg = r["region"].read().filter("r_name = 'ASIA'")
    nat, sup = r["nation"].read(), r["supplier"].read()
    cus, orde, li = r["customer"].read(), r["orders"].read(), r["lineitem"].read()
    return (reg
            .join(nat, nat.n_regionkey == reg.r_regionkey)
            .join(sup, sup.s_nationkey == nat.n_nationkey)
            .join(cus, cus.c_nationkey == sup.s_nationkey)
            .join(orde, orde.o_custkey == cus.c_custkey)
            .filter("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND "
                    "o_orderdate < TIMESTAMP '1999-01-01 00:00:00'")
            .join(li, (F.col("l_orderkey") == F.col("o_orderkey"))
                  & (F.col("l_suppkey") == F.col("s_suppkey")))
            .groupBy("n_name")
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
                  * 10000).cast("long").alias("revenue"),
                 F.count(F.lit(1)).alias("n")))


@q("sessionization", f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
m AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk FROM o),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id FROM m)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
       strftime(max(ts), '{_TS_FMT_DUCK}') AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, session_id
""")
def sessionization(spark, sf_dir):
    """Gap-based sessionization (30-min) over events — the batch twin of the
    applyInPandasWithState streaming operator (streaming/sessionize.py); one
    user-keyed shuffle, gaps-and-islands in pure window functions."""
    from incubator_hudi_spark.streaming.sessionize import sessionize
    ev = _load(spark, sf_dir, "events")
    out = sessionize(ev, gap_minutes=30)
    return out.select(
        "user_id", "session_id",
        F.date_format("session_start", _TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end", _TS_FMT_SPARK).alias("session_end"),
        "n_events")


@q("sequence_packing", r"""
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id % 4 AS shard,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
  FROM documents),
walk AS (
  SELECT shard, rn, doc_id, n_tokens, n_tokens AS acc, 0 AS pack_id
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN w.acc + d.n_tokens > 2000 THEN d.n_tokens
              ELSE w.acc + d.n_tokens END,
         CASE WHEN w.acc + d.n_tokens > 2000 THEN w.pack_id + 1
              ELSE w.pack_id END
  FROM walk w JOIN d ON d.shard = w.shard AND d.rn = w.rn + 1)
SELECT doc_id, shard, n_tokens, pack_id FROM walk
""")
def sequence_packing(spark, sf_dir):
    """Greedy token-budget sequence packing per shard (applyInPandas linear
    pass; shards pack in parallel) — oracle is a recursive-CTE walk of the
    same greedy rule."""
    from incubator_hudi_spark.operators import text as T
    from incubator_hudi_spark.operators.packing import pack_greedy
    docs = (_load(spark, sf_dir, "documents")
            .select("doc_id", F.pmod(F.col("doc_id"), F.lit(4)).alias("shard"),
                    T.token_count_whitespace(F.col("text")).cast("long")
                    .alias("n_tokens")))
    return pack_greedy(docs, budget=2000)


# ---------------------------------------------------------------------------
# round-2 coverage: overwrite-table/truncate, DeltaStreamer checkpointing,
# timestamp keygen, table→table incremental pipelines, sampling/vocab/corpus
# dedup operators
# ---------------------------------------------------------------------------

@q("insert_overwrite_table", """
SELECT o_orderkey, strftime(o_orderdate, '%Y') AS y,
       CAST(-5.0 AS DOUBLE) AS price
FROM orders WHERE o_orderkey % 3 = 0
""")
def insert_overwrite_table_q(spark, sf_dir):
    """insert_overwrite_table (SparkInsertOverwriteTableCommitActionExecutor):
    one replacecommit atomically swaps EVERY existing file group for the new
    data — rows absent from the batch are gone, even in partitions the batch
    never touches."""
    def build():
        t = _orders_table(spark, sf_dir, _new_path("iot", sf_dir))
        o = _load(spark, sf_dir, "orders")
        t.bulk_insert(o)
        t.insert_overwrite_table(o.filter("o_orderkey % 3 = 0")
                                  .withColumn("o_totalprice", F.lit(-5.0)))
        return {"t": t}
    t = _recipe("iot", sf_dir, build)["t"]
    return t.read().select("o_orderkey",
                           F.col("_hoodie_partition_path").alias("y"),
                           F.col("o_totalprice").alias("price"))


@q("truncate_reinsert", f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
       strftime(l_shipdate, '{_TS_FMT_DUCK}') AS ship_ts
FROM lineitem WHERE l_linenumber <= 2
""")
def truncate_reinsert(spark, sf_dir):
    """TRUNCATE TABLE (TruncateHoodieTableCommand): data gone, metadata
    alive; a later insert() starts the table over (and, per reference insert
    semantics, stores raw rows without key-merging)."""
    def build():
        t = _lineitem_table(spark, sf_dir, _new_path("trunc", sf_dir))
        li = _load(spark, sf_dir, "lineitem")
        t.upsert(li)
        t.truncate()
        t.insert(li.filter("l_linenumber <= 2"))
        return {"t": t}
    t = _recipe("trunc", sf_dir, build)["t"]
    return t.read().select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        F.date_format("l_shipdate", _TS_FMT_SPARK).alias("ship_ts"))


@q("ingest_checkpointed", f"""
SELECT event_id, user_id, upper(event_type) AS etype, value * 2 AS v2,
       strftime(CAST(ts AS TIMESTAMP), '{_TS_FMT_DUCK}') AS ts_s
FROM events
""")
def ingest_checkpointed(spark, sf_dir):
    """DeltaStreamer loop (DeltaSync.syncOnce + checkpoint in commit
    metadata): a DFS source lands two file batches; two sync_once calls
    ingest each exactly once through a SQL transformer — the second resumes
    from the checkpoint stamped in the first commit."""
    def build():
        import time as _time

        from incubator_hudi_spark import HudiTable
        from incubator_hudi_spark.sources.ingest import (DFSSource, IngestJob,
                                                         sql_transformer)
        ev = _load(spark, sf_dir, "events")
        src_dir = _new_path("ingest_src", sf_dir)
        ev.filter("event_id % 2 = 0").write.parquet(os.path.join(src_dir, "b1"))
        t = HudiTable.create(
            spark, _new_path("ingest_tbl", sf_dir), name="events_ingest",
            recordkey_fields=["event_id"],
            partition_expr="date_format(ts,'yyyy-MM-dd')",
            precombine_field="ts")
        job = IngestJob(
            t, DFSSource(spark, src_dir),
            transform=sql_transformer(
                spark, "SELECT event_id, user_id, upper(event_type) AS etype, "
                       "value * 2 AS v2, ts FROM src"))
        assert job.sync_once() is not None
        _time.sleep(0.05)   # distinct mtime for the second batch
        ev.filter("event_id % 2 = 1").write.parquet(os.path.join(src_dir, "b2"))
        assert job.sync_once() is not None
        assert job.sync_once() is None   # checkpoint: nothing new → no commit
        return {"t": t}
    t = _recipe("ingest_cp", sf_dir, build)["t"]
    return t.read().select(
        "event_id", "user_id", "etype", "v2",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"))


@q("timestamp_keygen_daily", """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y/%m/%d') AS part, count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""")
def timestamp_keygen_daily(spark, sf_dir):
    """TimestampBasedKeyGenerator (TimestampBasedKeyGenerator.java:36):
    slash-separated multi-level date partition paths derived from an event
    timestamp."""
    def build():
        from incubator_hudi_spark import HudiTable
        t = HudiTable.create(
            spark, _new_path("ts_keygen", sf_dir), name="events_daily",
            recordkey_fields=["event_id"],
            partition_expr="date_format(ts,'yyyy/MM/dd')",
            precombine_field="ts")
        t.bulk_insert(_load(spark, sf_dir, "events"))
        return {"t": t}
    t = _recipe("ts_keygen", sf_dir, build)["t"]
    return (t.read().groupBy(F.col("_hoodie_partition_path").alias("part"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("user_id").alias("n_users")))


@q("hudi_incr_pipeline", """
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice + 9.0
            ELSE o_totalprice END AS price
FROM orders
""")
def hudi_incr_pipeline(spark, sf_dir):
    """Table→table incremental pipeline (HoodieIncrSource.java): downstream
    table follows the upstream via incremental pulls, checkpoint = last
    consumed instant; two syncs propagate base data then just the update
    batch."""
    def build():
        from incubator_hudi_spark.sources.ingest import HudiIncrSource, IngestJob
        up = _orders_table(spark, sf_dir, _new_path("incr_up", sf_dir))
        down = _orders_table(spark, sf_dir, _new_path("incr_down", sf_dir))
        o = _load(spark, sf_dir, "orders")
        up.upsert(o)
        job = IngestJob(down, HudiIncrSource(up))
        assert job.sync_once() is not None
        up.upsert(o.filter("o_orderkey % 4 = 1")
                   .withColumn("o_totalprice", F.col("o_totalprice") + 9.0))
        assert job.sync_once() is not None
        assert job.sync_once() is None
        return {"t": down}
    t = _recipe("hudi_incr", sf_dir, build)["t"]
    return t.read().select("o_orderkey", "o_orderstatus",
                           F.col("o_totalprice").alias("price"))


@q("stratified_sample", """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substring(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      % 10000
      < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END
""")
def stratified_sample_q(spark, sf_dir):
    """Deterministic per-language stratified sampling (training-corpus mixing
    ratios): content-hash bucketing, zero shuffles — the md5 family is
    oracle-checked; xxhash64 shares the identical plan."""
    from incubator_hudi_spark.operators import sampling as S
    docs = _load(spark, sf_dir, "documents")
    return S.sample_stratified(
        docs, "lang", {"en": 0.5, "de": 0.25}, default_rate=0.10,
        hash_family="md5").select("doc_id", "lang")


@q("chunk_documents_512", """
WITH idx AS (
  SELECT doc_id, text,
         unnest(range(0, greatest(0, (length(text) - 512 + 447) // 448) + 1))
           AS chunk_id
  FROM documents),
chunks AS (
  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         substr(text, CAST(chunk_id AS INT) * 448 + 1, 512) AS chunk_text
  FROM idx)
SELECT doc_id, chunk_id, chunk_text,
       CAST(length(chunk_text) AS INT) AS chunk_chars
FROM chunks
""")
def chunk_documents_512(spark, sf_dir):
    """Fixed-window document chunking with overlap (512 chars, 64 overlap →
    step 448): sequence→posexplode→substring, a pure map-side explode —
    the pre-tokenization step for context-window training and RAG
    indexing."""
    from incubator_hudi_spark.operators.text import chunk_documents
    docs = _load(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_chars=512, overlap_chars=64)
    return out.select("doc_id", F.col("chunk_id").cast("int").alias("chunk_id"),
                      "chunk_text",
                      F.col("chunk_chars").cast("int").alias("chunk_chars"))


@q("cap_per_source_100", """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT doc_id, source FROM ranked WHERE rn <= 100
""")
def cap_per_source_100(spark, sf_dir):
    """Per-source head cap (CCNet/RefinedWeb-style): keep a deterministic
    100 documents per source so no single origin dominates the training
    mix.  One window shuffle keyed by source; md5 selection order is
    engine-independent, hence oracle-checkable."""
    from incubator_hudi_spark.operators.sampling import cap_per_group
    docs = _load(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", 100).select("doc_id", "source")


@q("vocab_top100", r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents),
c AS (SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY token)
SELECT token, n, rank FROM (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM c) WHERE rank <= 100
""")
def vocab_top100(spark, sf_dir):
    """Corpus vocabulary top-k (token frequency with deterministic
    tie-break) — explode + map-side-combined count; the global top-k sorts
    only the aggregated vocabulary."""
    from incubator_hudi_spark.operators import text as T
    return T.vocab_topk(_load(spark, sf_dir, "documents"), k=100)


@q("corpus_dedup_keep_one", r"""
WITH docs AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(string_split_regex(lower(trim(text)),'\s+')) - 2, 1) + 1),
      i -> array_to_string(string_split_regex(lower(trim(text)),'\s+')[i:i+2], ' '))) AS sh
  FROM documents),
sigs AS (
  SELECT doc_id,
    list_transform(range(0, 16),
      i -> list_min(list_transform(sh, s -> md5(i::varchar || md5(s))))) AS sig
  FROM docs),
banded AS (
  SELECT doc_id, b AS band, md5(sig[b*2+1] || sig[b*2+2]) AS bh
  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id),
losers AS (
  SELECT DISTINCT id_b
  FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id
            JOIN sigs sb ON cand.id_b = sb.doc_id
  WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.7)
SELECT doc_id, lang FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM losers)
""")
def corpus_dedup_keep_one(spark, sf_dir):
    """End-to-end corpus dedup: MinHash+LSH pairs → drop every doc similar to
    a lower-id survivor (the keep-one anti-join) — the surviving corpus, not
    just the pair list."""
    from incubator_hudi_spark.operators import dedup as D
    docs = _load(spark, sf_dir, "documents")
    return D.dedup_minhash(docs, threshold=0.7,
                           hash_family="md5").select("doc_id", "lang")


@q("windowed_agg_10min", f"""
SELECT event_type,
       strftime(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)),
                '{_TS_FMT_DUCK}') AS ws,
       count(*) AS n_events,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1, 2
""")
def windowed_agg_10min(spark, sf_dir):
    """Tumbling 10-minute event-time windows (the batch twin of the
    watermarked streaming aggregate in streaming/windowed.py) — one keyed
    shuffle with map-side partial aggregation."""
    from incubator_hudi_spark.streaming.windowed import windowed_agg
    ev = _load(spark, sf_dir, "events")
    return (windowed_agg(ev, window_minutes=10)
            .select("event_type",
                    F.date_format("window_start", _TS_FMT_SPARK).alias("ws"),
                    "n_events", "min_value", "max_value"))


@q("mor_skip_merge", f"""
WITH {_LI_DEDUP}
SELECT l_orderkey, l_linenumber, l_quantity FROM li_d
UNION ALL
SELECT l_orderkey, l_linenumber, l_quantity + 1000.0 FROM li_d
WHERE l_linenumber = 1
""")
def mor_skip_merge(spark, sf_dir):
    """MOR snapshot with merge_type=skip_merge (REALTIME_SKIP_MERGE,
    DataSourceOptions.scala:54-61): base and log rows concatenated without
    key-merging — both the stored and the updated version of each changed
    key appear."""
    t = _r_mor(spark, sf_dir)["t"]
    return t.read(merge_type="skip_merge").select(
        "l_orderkey", "l_linenumber", "l_quantity")


@q("gopher_rule_filter", r"""
WITH w AS (
  SELECT text,
         regexp_split_to_array(trim(text), '\s+') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents),
r AS (
  SELECT
    len(words) AS wc,
    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      / greatest(len(words), 1) AS mwl,
    CAST((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '…', ''))) AS DOUBLE)
      / greatest(len(words), 1) AS symr,
    CAST(len(list_filter(lines, x -> x LIKE '-%' OR x LIKE '*%')) AS DOUBLE)
      / greatest(len(lines), 1) AS bulr,
    CAST(len(list_filter(lines, x -> x LIKE '%...' OR x LIKE '%…')) AS DOUBLE)
      / greatest(len(lines), 1) AS ellr,
    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      / greatest(len(words), 1) AS alpr,
    len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
        ['the','be','to','of','and','that','have','with'])) AS stop_hits
  FROM w),
f AS (
  SELECT wc BETWEEN 50 AND 100000 AS r_words,
         mwl BETWEEN 3.0 AND 10.0 AS r_wlen,
         symr <= 0.1 AS r_sym,
         bulr <= 0.9 AS r_bul,
         ellr <= 0.3 AS r_ell,
         alpr >= 0.8 AS r_alpha,
         stop_hits >= 2 AS r_stop
  FROM r)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r_words THEN 1 ELSE 0 END) AS BIGINT) AS n_words_ok,
       CAST(sum(CASE WHEN r_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_word_len_ok,
       CAST(sum(CASE WHEN r_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_symbols_ok,
       CAST(sum(CASE WHEN r_bul THEN 1 ELSE 0 END) AS BIGINT) AS n_bullets_ok,
       CAST(sum(CASE WHEN r_ell THEN 1 ELSE 0 END) AS BIGINT) AS n_ellipsis_ok,
       CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_ok,
       CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords_ok,
       CAST(sum(CASE WHEN r_words AND r_wlen AND r_sym AND r_bul AND r_ell
                      AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass
FROM f
""")
def gopher_rule_filter(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 §A1.1) as one codegen'd
    projection — per-rule survivor counts + the composite gate."""
    from incubator_hudi_spark.operators import text as T
    g = T.gopher_quality_filter(_load(spark, sf_dir, "documents"))

    def n(col):
        return F.sum(F.when(F.col(col), 1).otherwise(0)).cast("long")

    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        n("g_rule_words").alias("n_words_ok"),
        n("g_rule_word_len").alias("n_word_len_ok"),
        n("g_rule_symbols").alias("n_symbols_ok"),
        n("g_rule_bullets").alias("n_bullets_ok"),
        n("g_rule_ellipsis").alias("n_ellipsis_ok"),
        n("g_rule_alpha").alias("n_alpha_ok"),
        n("g_rule_stopwords").alias("n_stopwords_ok"),
        n("gopher_pass").alias("n_pass"))


@q("gopher_repetition_rules", r"""
WITH a AS (
  SELECT list_filter(string_split(text, chr(10)), x -> length(x) > 0)
           AS lines,
         list_filter(string_split(text, chr(10) || chr(10)),
                     x -> length(x) > 0) AS paras
  FROM documents),
r AS (
  SELECT
    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
      / greatest(len(lines), 1) AS lf,
    CAST(coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0)
         - coalesce(list_aggregate(list_transform(list_distinct(lines),
                                                  x -> length(x)), 'sum'), 0)
         AS DOUBLE)
      / greatest(coalesce(list_aggregate(list_transform(lines, x -> length(x)),
                                         'sum'), 0), 1) AS lcf,
    CAST(len(paras) - len(list_distinct(paras)) AS DOUBLE)
      / greatest(len(paras), 1) AS pf,
    CAST(coalesce(list_aggregate(list_transform(paras, x -> length(x)), 'sum'), 0)
         - coalesce(list_aggregate(list_transform(list_distinct(paras),
                                                  x -> length(x)), 'sum'), 0)
         AS DOUBLE)
      / greatest(coalesce(list_aggregate(list_transform(paras, x -> length(x)),
                                         'sum'), 0), 1) AS pcf
  FROM a)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN lf <= 0.30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_line_ok,
       CAST(sum(CASE WHEN lcf <= 0.20 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_line_char_ok,
       CAST(sum(CASE WHEN pf <= 0.30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_para_ok,
       CAST(sum(CASE WHEN pcf <= 0.20 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_para_char_ok,
       CAST(sum(CASE WHEN lf <= 0.30 AND lcf <= 0.20 AND pf <= 0.30
                      AND pcf <= 0.20 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM r
""")
def gopher_repetition_rules(spark, sf_dir):
    """Gopher duplicate-line/paragraph rules — survivor counts per rule."""
    from incubator_hudi_spark.operators import text as T
    g = T.gopher_repetition_filter(_load(spark, sf_dir, "documents"))
    r = T.GOPHER_REPETITION_RULES

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        n(F.col("line_dup_frac") <= r["max_dup_line_frac"])
        .alias("n_line_ok"),
        n(F.col("line_dup_char_frac") <= r["max_dup_line_char_frac"])
        .alias("n_line_char_ok"),
        n(F.col("para_dup_frac") <= r["max_dup_para_frac"])
        .alias("n_para_ok"),
        n(F.col("para_dup_char_frac") <= r["max_dup_para_char_frac"])
        .alias("n_para_char_ok"),
        n(F.col("repetition_pass")).alias("n_pass"))


@q("quality_filter_counts", r"""
WITH f AS (
  SELECT lang,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
           / greatest(length(text), 1) AS digit_ratio
  FROM documents)
SELECT lang, count(*) AS n_kept
FROM f
WHERE n_tokens >= 5 AND punct_ratio < 0.2 AND digit_ratio < 0.3
GROUP BY lang
""")
def quality_filter_counts(spark, sf_dir):
    """C4-style quality gate: min length + punctuation/digit caps over the
    quality_features columns; per-language survivor counts."""
    from incubator_hudi_spark.operators import text as T
    docs = _load(spark, sf_dir, "documents")
    return (T.quality_features(docs)
            .filter("n_tokens >= 5 AND punct_ratio < 0.2 AND digit_ratio < 0.3")
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")))


@q("global_index_partition_move", """
SELECT o_orderkey,
       strftime(CASE WHEN o_orderkey % 5 = 0
                     THEN o_orderdate + INTERVAL 24 MONTH
                     ELSE o_orderdate END, '%Y') AS part,
       CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE o_totalprice END AS price,
       strftime(CASE WHEN o_orderkey % 5 = 0
                     THEN o_orderdate + INTERVAL 24 MONTH
                     ELSE o_orderdate END, '%Y-%m-%d') AS odate
FROM orders
""")
def global_index_partition_move(spark, sf_dir):
    """GLOBAL_BLOOM with update-partition-path=true
    (SparkHoodieGlobalBloomIndex.java:143): an update whose partition
    expression maps to a new partition MOVES the record — delete in the old
    partition + insert in the new — so `part` reflects the NEW o_orderdate
    (contrast global_index_partition_stickiness)."""
    def build():
        from incubator_hudi_spark import HudiTable, WriteConfig
        t = HudiTable.create(
            spark, _new_path("global_move", sf_dir), name="orders_gm",
            recordkey_fields=["o_orderkey"],
            partition_expr="date_format(o_orderdate,'yyyy')",
            precombine_field="o_orderdate",
            write_config=WriteConfig(
                index_type="GLOBAL_BLOOM",
                global_index_update_partition_path=True))
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        moved = (o.filter("o_orderkey % 5 = 0")
                 .withColumn("o_orderdate",
                             F.expr("o_orderdate + INTERVAL 24 MONTHS"))
                 .withColumn("o_totalprice", F.lit(1.0)))
        t.upsert(moved)
        return {"t": t}
    t = _recipe("global_move", sf_dir, build)["t"]
    return t.read().select(
        "o_orderkey", F.col("_hoodie_partition_path").alias("part"),
        F.col("o_totalprice").alias("price"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"))


@q("asof_join_attribution", f"""
SELECT l.event_id, l.user_id,
       strftime(l.ts, '{_TS_FMT_DUCK}') AS ts,
       strftime(r.ts, '{_TS_FMT_DUCK}') AS click_ts,
       r.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts > r.ts
""")
def asof_join_attribution(spark, sf_dir):
    """As-of join (backward, strict): each purchase attributed to the same
    user's latest strictly-earlier click.  Implemented as the single-shuffle
    union+prefix-window operator (operators/joins.asof_join); the oracle is
    DuckDB's native ASOF JOIN — an independent implementation of the same
    semantics.  (user_id, ts) is unique per side in the corpus, so the match
    is deterministic."""
    from incubator_hudi_spark.operators.joins import asof_join
    ev = _load(spark, sf_dir, "events")
    out = asof_join(ev.filter("event_type = 'purchase'"),
                    ev.filter("event_type = 'click'"),
                    on=["user_id"], left_ts="ts", right_ts="ts",
                    right_cols=["value"], strict=True)
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts"),
        F.date_format("matched_ts", _TS_FMT_SPARK).alias("click_ts"),
        F.col("matched_value").alias("click_value"))


@q("range_join_click_context", """
SELECT l.event_id,
       count(*) AS n_clicks,
       CAST(sum(CAST(floor(r.value * 1000) AS BIGINT)) AS BIGINT)
         AS sum_value_milli
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 30 MINUTE AND r.ts <= l.ts
GROUP BY l.event_id
""")
def range_join_click_context(spark, sf_dir):
    """Bounded time-range join: clicks by the same user in the 30 minutes up
    to each purchase, aggregated per purchase.  The operator bucketizes time
    so the theta-join becomes an equi-join on (user, bucket) with a 2× fan-out
    bound (operators/joins.range_join); the oracle is the naive inequality
    join.  floor(value*1000) keeps the sum in exact integers (both engines
    evaluate the double product identically)."""
    from incubator_hudi_spark.operators.joins import range_join
    ev = _load(spark, sf_dir, "events")
    pairs = range_join(ev.filter("event_type = 'purchase'"),
                       ev.filter("event_type = 'click'"),
                       on=["user_id"], left_ts="ts", right_ts="ts",
                       before_seconds=1800.0, after_seconds=0.0,
                       right_cols=["value"])
    return (pairs.groupBy("event_id")
            .agg(F.count(F.lit(1)).alias("n_clicks"),
                 F.sum(F.floor(F.col("r_value") * 1000).cast("long"))
                  .cast("long").alias("sum_value_milli")))


@q("tfidf_top_terms", r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
SELECT doc_id, token, tf, df FROM (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, dfreq.df ASC, tf.token ASC)
           AS rnk
  FROM tf JOIN dfreq USING (token))
WHERE rnk <= 3
""")
def tfidf_top_terms(spark, sf_dir):
    """TF-IDF term statistics (operators/text.tf_idf): top-3 salient terms
    per document ranked by (tf desc, rarity asc, token) — the hash stays on
    exact integers; the float tfidf score itself is library output."""
    from pyspark.sql.window import Window
    from incubator_hudi_spark.operators import text as T
    stats = T.tf_idf(_load(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("token"))
    return (stats.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "token", "tf", "df"))


@q("flatten_json_transform", """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         AS sum_value_milli
FROM events
GROUP BY 1, 2
""")
def flatten_json_transform(spark, sf_dir):
    """DeltaStreamer transformer chain (sources/ingest.py): parse the JSON
    props column into a struct, FlatteningTransformer lifts it to top-level
    columns, then aggregate — the flatten + SQL-transformer composition the
    reference ships as FlatteningTransformer/SqlQueryBasedTransformer."""
    from incubator_hudi_spark.sources.ingest import (chained_transformer,
                                                     flatten_transformer,
                                                     sql_transformer)
    ev = _load(spark, sf_dir, "events").withColumn(
        "props", F.from_json("props", "k BIGINT"))
    tx = chained_transformer(
        flatten_transformer,
        sql_transformer(spark, """
            SELECT event_type, props_k % 10 AS k_mod,
                   count(*) AS n,
                   CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                     AS sum_value_milli
            FROM src GROUP BY 1, 2""", view_name="src"))
    return tx(ev)


@q("repetition_bigram", r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t), 1)),
                               i -> t[i] || ' ' || t[i+1])) AS gram
  FROM toks),
c AS (SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY 1, 2)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams, max(n) AS top_gram_n,
       CAST(floor(1000.0 * max(n) / sum(n)) AS BIGINT) AS rep_milli
FROM c GROUP BY doc_id
""")
def repetition_bigram(spark, sf_dir):
    """Bigram-repetition quality signal (operators/text.repetition_features):
    share of each doc's bigrams taken by its most frequent bigram — the
    Gopher-rules boilerplate detector, computed with explode + map-side
    combined aggregates (never a per-row quadratic loop)."""
    from incubator_hudi_spark.operators import text as T
    return T.repetition_features(_load(spark, sf_dir, "documents"))


@q("data_skipping_column_stats", """
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders WHERE o_totalprice BETWEEN 200000.0 AND 250000.0
""")
def data_skipping_column_stats(spark, sf_dir):
    """Column-stats data skipping: per-file [min,max] of configured columns
    lands in the commit manifest at write time; read_filtered prunes file
    slices the stats prove empty for the predicate, then re-filters exactly.
    Clustering by o_totalprice first gives files disjoint price ranges, so
    the skip is decisive (files opened ~ selectivity, not table size)."""
    def build():
        from incubator_hudi_spark import HudiTable, WriteConfig
        t = HudiTable.create(
            spark, _new_path("orders_stats", sf_dir), name="orders",
            recordkey_fields=["o_orderkey"],
            partition_expr="date_format(o_orderdate,'yyyy')",
            precombine_field="o_orderdate",
            write_config=WriteConfig(stats_columns=("o_totalprice",),
                                     target_file_size_bytes=1024 * 1024))
        t.bulk_insert(_load(spark, sf_dir, "orders"))
        t.cluster(sort_columns=["o_totalprice"])
        return {"t": t}
    t = _recipe("orders_stats", sf_dir, build)["t"]
    return t.read_filtered(
        [("o_totalprice", "between", (200000.0, 250000.0))]).select(
        "o_orderkey", "o_totalprice", "o_orderstatus")


@q("zorder_clustering_scan", """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
FROM lineitem
WHERE l_partkey <= 2000 AND l_suppkey <= 40
""")
def zorder_clustering_scan(spark, sf_dir):
    """Z-order clustering (Morton curve over l_partkey, l_suppkey) is a
    layout-only replacecommit: the multi-column range scan returns exactly
    the plain-filter result while the manifest column stats prune files on
    both curve dimensions (tests/test_scale_smoke.py pins the pruning)."""
    def build():
        from incubator_hudi_spark import HudiTable, WriteConfig
        t = HudiTable.create(
            spark, _new_path("li_zorder", sf_dir), name="li_zorder",
            recordkey_fields=["l_orderkey", "l_linenumber"],
            partition_expr=None,
            precombine_field="l_shipdate",
            write_config=WriteConfig(stats_columns=("l_partkey", "l_suppkey"),
                                     target_file_size_bytes=2 * 1024 * 1024))
        t.bulk_insert(_load(spark, sf_dir, "lineitem"))
        t.cluster(sort_columns=["l_partkey", "l_suppkey"], layout="zorder")
        return {"t": t}
    t = _recipe("li_zorder", sf_dir, build)["t"]
    return t.read_filtered([("l_partkey", "<=", 2000),
                            ("l_suppkey", "<=", 40)]).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")


_LOOKUP_KEYS = list(range(1, 800_000, 40_000))


@q("point_lookup_pruned", f"""
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey IN ({', '.join(map(str, _LOOKUP_KEYS))})
""")
def point_lookup_pruned(spark, sf_dir):
    """Stats-pruned point lookup (read_keys): min/max key ranges from the
    commit manifests skip files that cannot hold the requested keys —
    O(#keys) file opens on a GLOBAL_SORT layout."""
    def build():
        t = _orders_table(spark, sf_dir, _new_path("orders_plain", sf_dir))
        t.bulk_insert(_load(spark, sf_dir, "orders"))
        return {"t": t}
    t = _recipe("orders_plain", sf_dir, build)["t"]
    return t.read_keys(_LOOKUP_KEYS).select(
        "o_orderkey", "o_totalprice", "o_orderstatus")


@q("point_lookup_bloom", """
WITH pick AS (
  SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
  ORDER BY l_orderkey, l_linenumber LIMIT 5)
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
FROM lineitem l JOIN pick USING (l_orderkey, l_linenumber)
""")
def point_lookup_bloom(spark, sf_dir):
    """Bloom-sidecar point lookup on a hash (SORT_NONE) layout where every
    file's key RANGE overlaps — the bloom second stage (table.bloom, the
    reference's footer blooms) prunes what ranges cannot."""
    from incubator_hudi_spark import HudiTable, WriteConfig
    from incubator_hudi_spark.config import SORT_NONE

    def build():
        t = HudiTable.create(
            spark, _new_path("li_hash", sf_dir), name="li_hash",
            recordkey_fields=["l_orderkey", "l_linenumber"],
            partition_expr=None, precombine_field="l_shipdate",
            write_config=WriteConfig(target_file_size_bytes=64 * 1024))
        t.bulk_insert(_load(spark, sf_dir, "lineitem"), sort_mode=SORT_NONE)
        t.build_bloom_index()
        return {"t": t}
    t = _recipe("li_hash", sf_dir, build)["t"]
    pairs = (_load(spark, sf_dir, "lineitem")
             .select("l_orderkey", "l_linenumber").distinct()
             .orderBy("l_orderkey", "l_linenumber").limit(5).collect())
    keys = [f"l_orderkey:{r[0]},l_linenumber:{r[1]}" for r in pairs]
    return t.read_keys(keys).select("l_orderkey", "l_linenumber",
                                    "l_quantity")


@q("timestamp_keygen_epoch", """
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
FROM events GROUP BY 1
""")
def timestamp_keygen_epoch(spark, sf_dir):
    """TimestampBasedKeyGenerator EPOCHMILLISECONDS input mode
    (TimestampBasedAvroKeyGenerator.java:103-126): partition an epoch-millis
    column into daily paths via the typed keygen helper."""
    def build():
        from incubator_hudi_spark import HudiTable
        from incubator_hudi_spark.keygen import (TS_EPOCHMILLIS,
                                                 timestamp_partition_expr)
        ev = (_load(spark, sf_dir, "events")
              .withColumn("ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))))
        t = HudiTable.create(
            spark, _new_path("events_epoch", sf_dir), name="events_epoch",
            recordkey_fields=["event_id"],
            partition_expr=timestamp_partition_expr(
                "ts_ms", TS_EPOCHMILLIS, "yyyy-MM-dd"),
            precombine_field="ts")
        t.upsert(ev)
        return {"t": t}
    t = _recipe("events_epoch", sf_dir, build)["t"]
    return (t.read().groupBy(F.col("_hoodie_partition_path").alias("day"))
            .agg(F.count(F.lit(1)).alias("n")))


# ---- payload variants + CDC ingestion -------------------------------------

def _r_orders_partial(spark, sf_dir):
    """OverwriteNonDefaults payload: partial-update batch nulls every column
    except key/partition/precombine/price; stored values must survive."""
    def build():
        from incubator_hudi_spark import HudiTable
        from incubator_hudi_spark.config import PAYLOAD_OVERWRITE_NON_DEFAULTS
        t = HudiTable.create(
            spark, _new_path("orders_partial", sf_dir), name="orders",
            recordkey_fields=["o_orderkey"],
            partition_expr="date_format(o_orderdate,'yyyy')",
            precombine_field="o_orderdate",
            payload=PAYLOAD_OVERWRITE_NON_DEFAULTS)
        o = _load(spark, sf_dir, "orders")
        t.upsert(o)
        keep = ("o_orderkey", "o_orderdate", "o_totalprice")
        upd = (o.filter("o_orderkey % 10 = 0")
               .select(*[(F.col(c) if c in keep
                          else F.lit(None).cast(o.schema[c].dataType).alias(c))
                         for c in o.columns])
               .withColumn("o_totalprice", F.col("o_totalprice") + 100000.0))
        t.upsert(upd)
        return {"t": t}
    return _recipe("orders_partial", sf_dir, build)


@q("payload_partial_update", """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100000.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderstatus, o_custkey, o_orderpriority
FROM orders
""")
def payload_partial_update(spark, sf_dir):
    """OverwriteNonDefaultsWithLatestAvroPayload.java:50-75 semantics: the
    update batch carries only the price — status/custkey/priority arrive
    NULL and must keep their stored values after the merge."""
    t = _r_orders_partial(spark, sf_dir)["t"]
    return t.read().select("o_orderkey", "o_totalprice", "o_orderstatus",
                           "o_custkey", "o_orderpriority")


def _r_orders_dms(spark, sf_dir):
    """AWS DMS CDC flow: full load (no Op) → one CDC batch with I/U/D rows
    routed through aws_dms_transformer into a plain upsert."""
    def build():
        from incubator_hudi_spark.sources.ingest import aws_dms_transformer
        t = _orders_table(spark, sf_dir, _new_path("orders_dms", sf_dir))
        o = _load(spark, sf_dir, "orders")
        t.upsert(aws_dms_transformer(o))           # full load: Op=''
        upd = (o.filter("o_orderkey % 7 = 1")
               .withColumn("o_totalprice", F.col("o_totalprice") * 2)
               .withColumn("Op", F.lit("U")))
        dels = (o.filter("o_orderkey % 5 = 2 AND o_orderkey % 7 != 1")
                .withColumn("Op", F.lit("D")))
        ins = (o.filter("o_orderkey % 11 = 3")
               .withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000)
               .withColumn("o_totalprice", F.col("o_totalprice") + 5.0)
               .withColumn("Op", F.lit("I")))
        cdc = upd.unionByName(dels).unionByName(ins)
        t.upsert(aws_dms_transformer(cdc))
        return {"t": t}
    return _recipe("orders_dms", sf_dir, build)


@q("aws_dms_cdc", """
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 7 = 1 THEN 'U' ELSE '' END AS op,
         o_orderstatus
  FROM orders
  WHERE NOT (o_orderkey % 5 = 2 AND o_orderkey % 7 <> 1)
), ins AS (
  SELECT o_orderkey + 20000000 AS o_orderkey,
         o_totalprice + 5.0 AS o_totalprice, 'I' AS op, o_orderstatus
  FROM orders WHERE o_orderkey % 11 = 3
)
SELECT * FROM base UNION ALL SELECT * FROM ins
""")
def aws_dms_cdc(spark, sf_dir):
    """AWS DMS change capture (AWSDmsTransformer.java:39-51,
    AWSDmsAvroPayload.java:44-78): Op='' full load, then one batch of
    inserts/updates/deletes; 'D' rows become delete-marker upserts."""
    t = _r_orders_dms(spark, sf_dir)["t"]
    return t.read().select("o_orderkey", "o_totalprice",
                           F.col("Op").alias("op"), "o_orderstatus")


# The driver's correctness gate samples a prefix of queries() in dict order
# (50 queries per round).  Round 8 rotation (the standing "no row >2 rounds
# old" policy): first the eight pure-corpus rows sampled in neither round 6
# nor round 7 (named as round 8's front by the round 7 verdict), then the
# rows whose code paths round 8 rewrites — key generation and the write
# plan (_prepare, preCombine, tagging, routing and the anti-join rewrite)
# and the GLOBAL_SORT sample cap in fused_profile_splits — then the rows
# whose COW upserts the exact-tag shape now writes (global indexes, a
# METADATA_ONLY bootstrap table, the warm in-memory index), then pii_scrub
# (also unsampled in rounds 6-7), then rows last sampled in round 6, in
# registration order.  Queries absent from this list keep their relative
# registration order after the priority block; the round 6 rows past slot
# 50 lead round 9's window.
_PRIORITY = [
    # two rounds unsampled: pure-corpus rows
    "cap_per_source_100", "chunk_documents_512", "filter_exists",
    "gopher_rule_filter", "pipeline_training_corpus",
    "quality_filter_counts", "sequence_packing", "token_budget_mix",
    # REWRITTEN in r8 — re-earn on current code (SQL-expression keygen,
    # _prepare and COW routing; pin-time key-index dedup; capped sample)
    "cow_upsert_snapshot", "cow_delete", "keygen_complex",
    "timestamp_keygen_daily", "timestamp_keygen_epoch",
    "payload_partial_update", "prepped_write_variants",
    "global_index_partition_move", "bulk_insert_roundtrip",
    # REWRITTEN: the exact-tag COW shape (tag → profile → anti-join)
    "bootstrap_metadata_only", "global_bloom_upsert",
    "global_index_partition_stickiness", "inmemory_index_lifecycle",
    # REWRITTEN: every commit (overwrite, ALTER, services) runs through
    # the one commit skeleton, HudiTable._commit
    "insert_overwrite_and_drop_partition", "insert_duplicate_semantics",
    "schema_evolution", "schema_widening",
    "mor_compaction", "clustering_cleaning_archival", "rollback",
    "savepoint_restore",
    "async_compaction_ingest", "async_clustering_ingest",
    "bootstrap_full_record",
    # unsampled in r6 and r7
    "pii_scrub",
    # last sampled in r6
    "incremental_glob", "incremental_glob_braces", "mor_snapshot",
    "pyds_native_mor_snapshot", "mor_read_optimized", "mor_incremental",
    "merge_into",
    "sql_dml", "update_delete_where", "streaming_sink_events",
    "streaming_incremental_batch",
    "pyds_native_bootstrap", "partition_sort_layout", "bulk_insert_none_mode",
    "occ_conflict_detection", "multi_table_ingest",
    "metadata_table_listing", "show_partitions_commits",
    "ann_brute_force_topk", "ann_lsh_topk", "minhash_lsh_pairs",
    "simhash_pairs", "payload_default_event_time_guard",
    "bloom_index_upsert",
    "mor_delete", "keygen_nonpartitioned",
    "stratified_sample", "vocab_top100",
    "windowed_agg_10min", "mor_skip_merge", "gopher_repetition_rules",
    "tfidf_top_terms", "repetition_bigram", "aws_dms_cdc",
]


def _ordered(d: dict) -> dict:
    out = {k: d[k] for k in _PRIORITY if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(_ORACLES)
