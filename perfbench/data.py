"""Seeded inputs and the plain-Spark expected answers they imply.

Every value is a hash of (row id, seed, salt), so the same seed gives the
same inputs and the expected table state can be rebuilt with ordinary
Spark expressions, independent of the engine.

Lineitem-shaped rows: row id ``k`` maps to the record key
(l_orderkey = k // 4 + 1, l_linenumber = k % 4 + 1) and to a shipdate month
fixed by its order, so a key never changes partition. Update number ``v``
of a row adds ``v + 1`` to its quantity and price, so the expected row is a
function of (k, latest update applied).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KEY_FIELDS = ["l_orderkey", "l_linenumber"]
PARTITION_EXPR = "date_format(l_shipdate,'yyyy-MM')"
DATA_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
             "l_discount", "l_returnflag", "l_linestatus", "l_shipdate",
             "l_comment"]
#: ``version`` marking a row whose latest operation deleted it
DELETED = -2

_WORDS = ["carefully", "final", "deposits", "sleep", "quickly", "ironic",
          "packages", "boost", "furiously", "regular", "accounts", "haggle",
          "blithely", "express", "requests", "wake", "silent", "pinto"]


def h(seed: int, salt: int, *cols) -> Column:
    return F.xxhash64(*cols, F.lit(seed), F.lit(salt))


def selected(k: Column, seed: int, salt: int, basis_points: int) -> Column:
    """Seeded Bernoulli pick of row ids at ``basis_points`` / 10000."""
    return F.pmod(h(seed, salt, k), F.lit(10000)) < basis_points


def month_of(k: Column, seed: int, months: int) -> Column:
    return F.pmod(h(seed, 1, F.floor(k / 4)), F.lit(months))


def lineitem_rows(ids: DataFrame, seed: int, months: int) -> DataFrame:
    """Rows for a frame of (``k`` long, ``v`` int) — id and update version."""
    k, v = F.col("k"), F.col("v")
    bump = (v + 1).cast("double")
    words = F.array(*[F.lit(w) for w in _WORDS])
    return ids.select(
        (F.floor(k / 4) + 1).cast("long").alias("l_orderkey"),
        (F.pmod(k, F.lit(4)) + 1).cast("int").alias("l_linenumber"),
        ((F.pmod(h(seed, 2, k), F.lit(50)) + 1).cast("double") + bump)
        .alias("l_quantity"),
        (F.pmod(h(seed, 3, k), F.lit(10_000_000)).cast("double") / 100.0
         + bump).alias("l_extendedprice"),
        (F.pmod(h(seed, 4, k), F.lit(11)).cast("double") / 100.0)
        .alias("l_discount"),
        F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                     (F.pmod(h(seed, 5, k), F.lit(3)) + 1).cast("int"))
        .alias("l_returnflag"),
        F.element_at(F.array(F.lit("F"), F.lit("O")),
                     (F.pmod(h(seed, 6, k), F.lit(2)) + 1).cast("int"))
        .alias("l_linestatus"),
        F.to_timestamp(F.date_add(
            F.add_months(F.lit("1995-01-01").cast("date"),
                         month_of(k, seed, months).cast("int")),
            F.pmod(h(seed, 7, k), F.lit(28)).cast("int"))).alias("l_shipdate"),
        F.concat_ws(" ", F.element_at(words, (F.pmod(h(seed, 8, k), F.lit(18)) + 1).cast("int")),
                    F.element_at(words, (F.pmod(h(seed, 9, k), F.lit(18)) + 1).cast("int")),
                    F.element_at(words, (F.pmod(h(seed, 10, k), F.lit(18)) + 1).cast("int")))
        .alias("l_comment"),
    )


def id_range(spark, lo: int, hi: int, parts: int) -> DataFrame:
    return spark.range(lo, hi, 1, parts).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"))


def record_keys(ks) -> list[str]:
    """The engine's complex record key for row ids ``ks``."""
    return [f"l_orderkey:{k // 4 + 1},l_linenumber:{k % 4 + 1}" for k in ks]


class Op:
    """One write applied to base rows [0, n_base): ``kind`` is "update",
    "delete" or "insert"; updates and deletes pick base rows with
    ``basis_points`` (optionally only in ``month``); inserts add fresh ids
    [lo, hi) never picked by later operations."""

    def __init__(self, kind, salt, basis_points=0, month=None, lo=0, hi=0):
        self.kind, self.salt, self.basis_points = kind, salt, basis_points
        self.month, self.lo, self.hi = month, lo, hi

    def picks(self, k: Column, seed: int, months: int) -> Column:
        c = selected(k, seed, self.salt, self.basis_points)
        if self.month is not None:
            c = c & (month_of(k, seed, months) == self.month)
        return c


def batch_ids(spark, op: Op, version: int, seed: int, months: int,
              n_base: int, parts: int) -> DataFrame:
    """(k, v) frame of the rows ``op`` writes (``version`` tags updates)."""
    if op.kind == "insert":
        return id_range(spark, op.lo, op.hi, parts)
    return (spark.range(0, n_base, 1, parts)
            .select(F.col("id").alias("k"))
            .filter(op.picks(F.col("k"), seed, months))
            .select("k", F.lit(version).alias("v")))


def expected_ids(spark, ops, seed: int, months: int, n_base: int,
                 parts: int) -> DataFrame:
    """(k, v) of the live rows after applying ``ops`` in order to the base
    rows — plain Spark, no engine code. ``v`` is the position of the last
    update applied to the row, or -1."""
    k = F.col("k")
    touch = [(pos, op) for pos, op in enumerate(ops) if op.kind != "insert"]
    base = spark.range(0, n_base, 1, parts).select(F.col("id").alias("k"))
    if touch:
        last = F.greatest(*[F.when(op.picks(k, seed, months), F.lit(pos))
                            for pos, op in touch]) if len(touch) > 1 else \
            F.when(touch[0][1].picks(k, seed, months), F.lit(touch[0][0]))
        version = F.lit(-1)
        for pos, op in touch:
            version = F.when(last == pos, F.lit(
                DELETED if op.kind == "delete" else pos)).otherwise(version)
        base = base.select(k, version.alias("v"))
    else:
        base = base.select(k, F.lit(-1).alias("v"))
    out = base.filter(F.col("v") != DELETED)
    for op in ops:
        if op.kind == "insert":
            out = out.unionByName(id_range(spark, op.lo, op.hi, parts))
    return out


def fingerprint(df: DataFrame) -> tuple:
    """(row count, order-independent hash) over DATA_COLS."""
    r = df.select(F.pmod(F.xxhash64(*DATA_COLS), F.lit(2 ** 31)).alias("x")) \
        .agg(F.count(F.lit(1)), F.coalesce(F.sum("x"), F.lit(0))).first()
    return int(r[0]), int(r[1])


def row_bytes() -> Column:
    """In-memory bytes of one lineitem row: fixed-width fields plus strings."""
    return (F.lit(8 + 4 + 8 + 8 + 8 + 8) + F.length("l_returnflag")
            + F.length("l_linestatus") + F.length("l_comment"))


# ---- corpus inputs -------------------------------------------------------

VOCAB = 4000
DOC_WORDS = 48
EMB_DIM = 32


def documents(spark, n: int, seed: int, dup_basis_points: int,
              parts: int) -> DataFrame:
    """``n`` documents of DOC_WORDS words. Odd doc 2j+1 picked at
    ``dup_basis_points`` is a near-duplicate of doc 2j (one word changed);
    every doc picked by salt 31 carries one e-mail address."""
    d = F.col("doc_id")
    dup = (d % 2 == 1) & selected(F.floor(d / 2), seed, 30, dup_basis_points)
    src = F.when(dup, d - 1).otherwise(d)
    words = F.transform(
        F.sequence(F.lit(1), F.lit(DOC_WORDS)),
        lambda i: F.when(dup & (i == F.lit(DOC_WORDS // 2)), F.lit("zzchanged"))
        .otherwise(F.concat(F.lit("w"),
                            F.pmod(F.xxhash64(src, i, F.lit(seed)),
                                   F.lit(VOCAB)).cast("string"))))
    email = F.when(selected(d, seed, 31, 2000),
                   F.concat(F.lit(" contact user"), d.cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit(""))
    return (spark.range(0, n, 1, parts).select(F.col("id").alias("doc_id"))
            .select("doc_id",
                    F.concat(F.concat_ws(" ", words), email).alias("text"),
                    F.lit("en").alias("lang"), F.lit("synthetic").alias("source")))


def planted_pairs(n: int, seed: int, dup_basis_points: int, spark) -> set:
    """(id_a, id_b) near-duplicate pairs ``documents`` plants, computed by
    the same seeded pick."""
    rows = (spark.range(0, n // 2).select(F.col("id").alias("j"))
            .filter(selected(F.col("j"), seed, 30, dup_basis_points))
            .filter(F.col("j") * 2 + 1 < n).collect())
    return {(2 * r.j, 2 * r.j + 1) for r in rows}


def embeddings(spark, n: int, seed: int, parts: int) -> DataFrame:
    v = F.col("vec_id")
    vec = F.transform(F.sequence(F.lit(1), F.lit(EMB_DIM)),
                      lambda i: (F.pmod(F.xxhash64(v, i, F.lit(seed)),
                                        F.lit(2001)) - 1000).cast("float"))
    return (spark.range(0, n, 1, parts).select(F.col("id").alias("vec_id"))
            .select("vec_id", vec.alias("embedding"),
                    F.pmod(v, F.lit(10)).cast("int").alias("label")))


def events(spark, users: int, sessions: int, per_session: int, seed: int,
           parts: int) -> DataFrame:
    """Per user, ``sessions`` bursts of ``per_session`` events: events in a
    burst are 2-18 minutes apart, bursts start 6 hours apart, so a 30-minute
    gap sessionizes them into exactly users * sessions sessions."""
    n = users * sessions * per_session
    e = F.col("event_id")
    user = F.floor(e / (sessions * per_session))
    burst = F.floor(e / per_session) % sessions
    step = e % per_session
    minutes = burst * 360 + step * 10
    ts = F.timestamp_seconds(F.lit(1_700_000_000) + minutes * 60
                             - F.pmod(F.xxhash64(e, F.lit(seed), F.lit(2)),
                                      F.lit(9)) * 60)
    return (spark.range(0, n, 1, parts).select(F.col("id").alias("event_id"))
            .select("event_id", ts.alias("ts"), user.cast("long").alias("user_id"),
                    F.lit("click").alias("event_type"),
                    F.pmod(F.xxhash64(e, F.lit(seed), F.lit(3)), F.lit(100))
                    .cast("double").alias("value"), F.lit("{}").alias("props")))
