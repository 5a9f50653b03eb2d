"""The four benchmark workloads.

Each workload builds its state in ``setup`` (run several times; the last
build is kept), is warmed up by ``warmup``, then serves timed operations
from ``op(i)`` in a closed loop with one client. ``check`` compares the
outputs with plain-Spark expected answers after the loop and returns a list
of mismatches. ``details`` reports the workload's own metrics.

Why these four:
  cow_upsert          update-only batches on a COW table with a warm key
                      index: the write lanes, where most engine time goes.
  mor_ingest_compact  MOR batches that also insert and delete, so the key
                      index is reloaded every batch, with a merged read after
                      each commit and compaction every few commits: read,
                      write and service costs traded in one place.
  snapshot_reads      read-only mix over a table with stats and blooms: the
                      reader and file-pruning paths, with zero writer work.
  corpus_dedup        the operator pipeline, which touches no table code.

BENCHMARK.json lists cow_upsert and snapshot_reads: one exercises the write
path and the other bypasses it. The other two run by hand (see README.md).
"""

from __future__ import annotations

import os
import random
import shutil
import time

from pyspark.sql import functions as F

import data
from data import Op

CLOCK = time.perf_counter


def dir_files(path):
    """relative path -> size of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def metric(value, unit, n=None):
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def p50(samples):
    from stats import median
    return median(samples) if samples else None


class Workload:
    name = ""
    setup_repeats = 3
    warmup_ops = 0        # untimed operations before the loop, whole cycles
    op_kind = ""          # the timed operation op_p50_adj_s is taken over
    op_doc = ""
    cycle_len = 1         # the timed loop stops only between whole cycles

    def __init__(self, spark, seed, work_dir, parallelism):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.parts = parallelism
        self.rng = random.Random(seed)
        self.sub = {}             # sub-operation kind -> latencies

    def timed(self, kind, fn, *args):
        t0 = CLOCK()
        out = fn(*args)
        self.sub.setdefault(kind, []).append(CLOCK() - t0)
        return out

    def setup(self, attempt):
        raise NotImplementedError

    def warmup(self):
        """Run ``warmup_ops`` untimed operations and record whether the
        timed kind's latency had settled by the end (``stats.settled`` on
        the later half of the warm-up latencies against the half before).

        The count is fixed, not run until settled, so that every run times
        the same operations: the table grows a commit per upsert, and a
        warm-up that stopped one operation earlier or later would start
        the loop at another commit."""
        from stats import settled
        lat = self.warmup_samples = []
        for i in range(self.warmup_ops):
            kind, fn = self.op(-1 - i)
            t0 = CLOCK()
            fn()
            if kind == self.op_kind:
                lat.append(CLOCK() - t0)
        self.warmup_settled = settled(lat, window=max(1, len(lat) // 2))
        self.sub.clear()

    def op(self, i):
        raise NotImplementedError

    def start_loop(self):
        pass

    def after_op(self, kind, ok):
        pass

    def check(self):
        return []

    def details(self, oplog):
        return {}


# ---- table workloads -------------------------------------------------------

class _TableWorkload(Workload):
    rows = 24_000
    months = 12
    table_type = "COPY_ON_WRITE"

    def write_config(self):
        from incubator_hudi_spark import WriteConfig
        # Clean, archival and a metadata-table checkpoint on every commit
        # from the fourth on, before the timed loop starts, so each timed
        # commit pays the same services. Archival only moves instants whose
        # files are cleaned or covered by a checkpoint; with the default
        # checkpoint every 10 commits the active timeline grew for ten
        # commits, and each commit read more instant files than the last.
        return WriteConfig(clean_retain_commits=2, archive_min_commits=3,
                           archive_max_commits=3, metadata_checkpoint_commits=1)

    def base_frame(self):
        return data.lineitem_rows(
            data.id_range(self.spark, 0, self.rows, self.parts),
            self.seed, self.months)

    def setup(self, attempt):
        """Load the base rows and bulk-insert them into a new table."""
        from incubator_hudi_spark import HudiTable
        path = os.path.join(self.work, f"{self.name}{attempt}")
        if hasattr(self, "table"):
            self.spark.catalog.clearCache()
            shutil.rmtree(self.path, ignore_errors=True)
        base = self.base_frame().persist()
        base.count()
        t = HudiTable.create(
            self.spark, path, name=self.name,
            recordkey_fields=data.KEY_FIELDS,
            partition_expr=data.PARTITION_EXPR,
            precombine_field="l_shipdate", table_type=self.table_type,
            write_config=self.write_config())
        t.bulk_insert(base)
        base.unpersist()
        self.table, self.path = t, path
        self.applied = []             # Ops committed, in order
        self.input_bytes = 0
        self.input_rows = 0
        self.seen_files = dir_files(path)
        self.loop_bytes = 0
        self.commit_times = [t.timeline.last_completed().time]

    def batch(self, op):
        """Materialised input frame for ``op`` (built outside the timer)."""
        ids = data.batch_ids(self.spark, op, len(self.applied), self.seed,
                             self.months, self.rows, self.parts)
        df = data.lineitem_rows(ids, self.seed, self.months)
        if op.kind == "delete":
            df = df.select(*data.KEY_FIELDS, "l_shipdate")
        df = df.persist()
        r = df.agg(F.count(F.lit(1)),
                   F.coalesce(F.sum(data.row_bytes() if op.kind != "delete"
                                    else F.lit(12)), F.lit(0))).first()
        return df, int(r[0]), int(r[1])

    def write(self, op):
        """Return a callable that commits ``op``'s batch."""
        df, nrows, nbytes = self.batch(op)

        def run():
            try:
                if op.kind == "delete":
                    instant = self.table.delete(df)
                else:
                    instant = self.table.upsert(df)
            finally:
                df.unpersist()
            self.applied.append(op)
            self.commit_times.append(instant)
            self.input_rows += nrows
            self.input_bytes += nbytes
            return instant
        return run

    def after_op(self, kind, ok):
        # bytes the loop added under the table path; walked outside the timer
        now = dir_files(self.path)
        self.loop_bytes += sum(s for p, s in now.items()
                               if p not in self.seen_files)
        self.seen_files.update(now)

    def start_loop(self):
        self.loop_bytes = 0
        self.input_bytes = self.input_rows = 0
        self.seen_files = dir_files(self.path)

    def expected(self):
        ids = data.expected_ids(self.spark, self.applied, self.seed,
                                self.months, self.rows, self.parts)
        return data.lineitem_rows(ids, self.seed, self.months)

    def check(self):
        got = data.fingerprint(self.table.read())
        want = data.fingerprint(self.expected())
        self.live_rows = got[0]
        if got != want:
            return [f"final snapshot (rows, hash) {got} != expected {want}"]
        return []

    def details(self, oplog):
        table_bytes = sum(dir_files(self.path).values())
        # write loop time: commits (with their post-commit clean and
        # archival) and compactions, but not the reads between them
        write_s = sum(sum(self.sub.get(k, ()))
                      for k in ("upsert", "delete", "compaction"))
        out = {
            "bytes_written_per_input_byte": metric(
                self.loop_bytes / self.input_bytes if self.input_bytes else 0.0,
                "ratio"),
            "table_bytes_per_live_row": metric(
                table_bytes / max(getattr(self, "live_rows", 0), 1), "B/row"),
            "ingest_rows_per_s": metric(
                self.input_rows / write_s if write_s else 0.0, "1/s"),
        }
        for kind in ("upsert", "delete", "compaction", "snapshot_read"):
            if kind in self.sub:
                out[f"{kind}_p50_s"] = metric(p50(self.sub[kind]), "s",
                                              len(self.sub[kind]))
        return out


class CowUpsert(_TableWorkload):
    """Update-only 1% batches across every partition of a COW table with an
    INMEMORY index (the key-index cache-hit path)."""
    name = "cow_upsert"
    op_kind, op_doc = "upsert", "one upsert commit"
    warmup_ops = 4

    def write_config(self):
        from incubator_hudi_spark.config import INDEX_INMEMORY
        return super().write_config().with_(index_type=INDEX_INMEMORY)

    def op(self, i):
        salt = 1000 + len(self.applied) + 1
        run = self.write(Op("update", salt, basis_points=100))
        return "upsert", lambda: self.timed("upsert", run)


class MorIngestCompact(_TableWorkload):
    """MOR, SIMPLE index: each round commits a batch (updates plus fresh
    inserts, or every third round a delete) and then runs a merged snapshot
    aggregation; every third round is followed by a compaction."""
    name = "mor_ingest_compact"
    op_kind, op_doc = "round", "one commit plus a merged snapshot read"
    table_type = "MERGE_ON_READ"
    cycle = 3
    cycle_len = cycle + 1         # rounds and the compaction after them
    warmup_ops = cycle_len        # one cycle keeps a run near a minute

    def setup(self, attempt):
        super().setup(attempt)
        self.next_insert = self.rows
        self.rounds = 0

    def next_write(self):
        salt = 2000 + len(self.applied) + 1
        if self.rounds % self.cycle == self.cycle - 1:
            return "delete", Op("delete", salt, basis_points=50)
        lo = self.next_insert
        self.next_insert += self.rows // 200
        return "upsert", (Op("update", salt, basis_points=100),
                          Op("insert", salt, lo=lo, hi=self.next_insert))

    def op(self, i):
        if getattr(self, "compact_due", False):
            self.compact_due = False
            return "compaction", lambda: self.timed(
                "compaction", self.table.run_compaction)
        kind, op = self.next_write()
        self.rounds += 1
        self.compact_due = self.rounds % self.cycle == 0
        if kind == "upsert":
            upd, ins = op
            run = self.write_pair(upd, ins)
        else:
            run = self.write(op)

        def round_():
            self.timed(kind, run)
            self.last_read = self.timed("snapshot_read", self.snapshot_agg)
        return "round", round_

    def write_pair(self, upd, ins):
        """One upsert batch holding ``upd``'s updates and ``ins``'s inserts."""
        u_df, u_rows, u_bytes = self.batch(upd)
        i_df, i_rows, i_bytes = self.batch(ins)
        df = u_df.unionByName(i_df)

        def run():
            try:
                instant = self.table.upsert(df)
            finally:
                u_df.unpersist()
                i_df.unpersist()
            self.applied += [upd, ins]
            self.commit_times.append(instant)
            self.input_rows += u_rows + i_rows
            self.input_bytes += u_bytes + i_bytes
            return instant
        return run

    def snapshot_agg(self):
        return agg_rows(self.table.read())

    def check(self):
        errs = super().check()
        want = agg_rows(self.expected())
        if getattr(self, "last_read", want) != want:
            errs.append("last merged snapshot aggregation != expected")
        return errs



def agg_rows(df):
    """Snapshot aggregation the read workloads run (exact: quantities are
    integral and prices are summed as decimals)."""
    rows = (df.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("q"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("p"),
                 F.count(F.lit(1)).alias("n"))
            .collect())
    return sorted(tuple(r) for r in rows)


class SnapshotReads(_TableWorkload):
    """Read-only rounds over a COW table with column stats, blooms and a
    history of partition-local upserts. A round runs one snapshot
    aggregation, one point lookup, one date-range read and one incremental
    pull, in seeded order with seeded parameters."""
    name = "snapshot_reads"
    op_kind, op_doc = "round", "one round of four reads"
    warmup_ops = 4
    history = 2
    pool = 4

    def write_config(self):
        # default retention: the incremental pulls read the whole history
        from incubator_hudi_spark import WriteConfig
        return WriteConfig(stats_columns=("l_shipdate", "l_orderkey"))

    def warmup(self):
        """Give the table its history and blooms, then warm the reads."""
        r = random.Random(self.seed)
        for j in range(self.history):
            month = r.randrange(self.months)
            self.write(Op("update", 3000 + j, basis_points=2000,
                          month=month))()
        self.table.build_bloom_index()
        self.make_pool()
        super().warmup()
        self.results = []

    def make_pool(self):
        r = random.Random(self.seed)
        lookups = [sorted(r.sample(range(self.rows), 8))
                   for _ in range(self.pool)]
        ranges = []
        for _ in range(self.pool):
            start = 788918400 + r.randrange(self.months * 30) * 86400
            # strings in the form the manifest's timestamp stats take
            ranges.append(tuple(
                time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t))
                for t in (start, start + 20 * 86400)))
        n = len(self.commit_times)
        windows = []
        for _ in range(self.pool):
            a = r.randrange(0, n - 1)
            b = r.randrange(a + 1, n)
            windows.append((a, b))
        self.params = {"point_lookup": lookups, "range_read": ranges,
                       "incremental_read": windows}
        self.results = []             # (kind, param index, answer)

    def op(self, i):
        kinds = ["snapshot_read", "point_lookup", "range_read",
                 "incremental_read"]
        if i < 0:
            # warm-up round j reads pool entry j % pool with every kind, so
            # each query the loop can draw has been planned and compiled
            # once; with random warm-up picks, the CPU per round kept
            # falling through the first ten timed rounds
            picks = dict.fromkeys(kinds, (-1 - i) % self.pool)
        else:
            self.rng.shuffle(kinds)
            picks = {k: self.rng.randrange(self.pool) for k in kinds}

        def round_():
            for k in kinds:
                ans = self.timed(k, getattr(self, k), picks[k])
                self.results.append((k, picks[k], ans))
        return "round", round_

    def snapshot_read(self, _):
        return agg_rows(self.table.read())

    def point_lookup(self, j):
        keys = data.record_keys(self.params["point_lookup"][j])
        return data.fingerprint(self.table.read_keys(keys))

    def range_read(self, j):
        lo, hi = self.params["range_read"][j]
        return data.fingerprint(self.table.read_filtered(
            [("l_shipdate", "between", (lo, hi))]))

    def incremental_read(self, j):
        from incubator_hudi_spark import QUERY_INCREMENTAL
        a, b = self.params["incremental_read"][j]
        return data.fingerprint(self.table.read(
            QUERY_INCREMENTAL, begin=self.commit_times[a],
            end=self.commit_times[b]))

    def expected_answer(self, kind, j, full):
        if kind == "snapshot_read":
            return agg_rows(full)
        if kind == "point_lookup":
            ks = self.params["point_lookup"][j]
            return data.fingerprint(full.filter(
                F.expr("(l_orderkey - 1) * 4 + l_linenumber - 1").isin(ks)))
        if kind == "range_read":
            lo, hi = self.params["range_read"][j]
            return data.fingerprint(
                full.filter(F.col("l_shipdate").between(lo, hi)))
        a, b = self.params["incremental_read"][j]
        # commit_times[c] wrote applied[c - 1]; the pull sees the table as of
        # commit b and keeps rows whose latest version came from (a, b]
        ids = data.expected_ids(self.spark, self.applied[:b], self.seed,
                                self.months, self.rows, self.parts)
        ids = ids.filter((F.col("v") >= a) & (F.col("v") < b))
        return data.fingerprint(
            data.lineitem_rows(ids, self.seed, self.months))

    def check(self):
        errs = super().check()
        full = self.expected().persist()
        want = {}
        for kind, j, ans in self.results:
            if (kind, j) not in want:
                want[(kind, j)] = self.expected_answer(kind, j, full)
            if ans != want[(kind, j)]:
                errs.append(f"{kind}[{j}] answer {ans} != expected "
                            f"{want[(kind, j)]}")
        full.unpersist()
        return errs

    def details(self, oplog):
        out = {}
        reads = 0
        for kind in ("snapshot_read", "point_lookup", "range_read",
                     "incremental_read"):
            xs = self.sub.get(kind, [])
            reads += len(xs)
            out[f"{kind}_p50_s"] = metric(p50(xs), "s", len(xs))
        busy = oplog.busy_seconds()
        out["reads_per_s"] = metric(reads / busy if busy else 0.0, "1/s")
        return out


# ---- operator pipeline -------------------------------------------------------

class CorpusDedup(Workload):
    """One pass = near-duplicate pairs, text analysis, PII scrub, top-k
    similarity for seeded queries, and sessionization."""
    name = "corpus_dedup"
    op_kind, op_doc = "pass", "one pass of the operator pipeline"
    warmup_ops = 3
    docs = 2000
    dup_bp = 1000
    vectors = 2000
    users, sessions, per_session = 200, 5, 10

    def setup(self, attempt):
        for name in ("docs_df", "emb_df", "ev_df"):
            if hasattr(self, name):
                getattr(self, name).unpersist()
        s, p = self.seed, self.parts
        self.docs_df = data.documents(self.spark, self.docs, s, self.dup_bp,
                                      p).persist()
        self.emb_df = data.embeddings(self.spark, self.vectors, s, p).persist()
        self.ev_df = data.events(self.spark, self.users, self.sessions,
                                 self.per_session, s, p).persist()
        for df in (self.docs_df, self.emb_df, self.ev_df):
            df.count()
        qids = sorted(random.Random(s).sample(range(self.vectors), 8))
        self.query_ids = qids
        self.queries = (self.emb_df.filter(F.col("vec_id").isin(qids))
                        .select(F.col("vec_id").alias("query_id"),
                                "embedding").persist())
        self.queries.count()
        self.passes = []

    def warmup(self):
        super().warmup()
        self.passes = []

    def op(self, i):
        return "pass", self.one_pass

    def stage(self, layer, fn):
        """Run one operator and its materialising action under a span of
        ``layer`` (a lazy operator does its work in the action)."""
        tracer = getattr(self, "tracer", None)
        if tracer is None:
            return fn()
        with tracer.span(f"{layer}:stage", layer):
            return fn()

    def one_pass(self):
        from incubator_hudi_spark.operators import dedup, similarity, text
        from incubator_hudi_spark.streaming.sessionize import sessionize
        d = self.docs_df
        out = {}
        out["pairs"] = self.stage("operators.dedup", lambda: sorted(
            (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
                d, k=16, bands=8, verify_threshold=0.5)
            .select("id_a", "id_b").collect()))
        out["analyze"] = self.stage("operators.text", lambda: tuple(
            text.analyze(d).agg(F.count(F.lit(1)), F.sum("n_tokens")).first()))
        out["pii"] = self.stage("operators.text", lambda: tuple(
            text.pii_scrub(d).agg(F.sum("n_emails"),
                                  F.sum(F.length("text_clean"))).first()))
        out["topk"] = self.stage("operators.similarity", lambda: sorted(
            (r.query_id, r.vec_id, r.rank) for r in similarity.brute_force_topk(
                self.emb_df, self.queries, k=10).collect()))
        out["sessions"] = self.stage("streaming.sessionize", lambda: tuple(
            sessionize(self.ev_df, gap_minutes=30)
            .agg(F.count(F.lit(1)), F.sum("n_events")).first()))
        self.passes.append(out)

    def expected(self):
        s = self.seed
        pairs = sorted(data.planted_pairs(self.docs, s, self.dup_bp,
                                          self.spark))
        emails = (self.spark.range(0, self.docs)
                  .filter(data.selected(F.col("id"), s, 31, 2000)).count())
        scrubbed = self.docs_df.agg(F.sum(F.length(F.regexp_replace(
            "text", r"user[0-9]+@example\.com", "<EMAIL>")))).first()[0]
        return {
            "pairs": pairs,
            "analyze": (self.docs, self.docs * data.DOC_WORDS + 2 * emails),
            "pii": (emails, scrubbed),
            "sessions": (self.users * self.sessions,
                         self.users * self.sessions * self.per_session),
        }

    def check(self):
        want = self.expected()
        errs = []
        for n, got in enumerate(self.passes):
            for key, val in want.items():
                if got[key] != val:
                    errs.append(f"pass {n} {key}: {str(got[key])[:200]} != "
                                f"expected {str(val)[:200]}")
            top = got["topk"]
            if len(top) != 10 * len(self.query_ids):
                errs.append(f"pass {n} topk: {len(top)} rows")
            firsts = sorted(q for q, v, r in top if r == 1 and q == v)
            if firsts != self.query_ids:
                errs.append(f"pass {n} topk: a query's nearest is not itself")
        return errs

    def details(self, oplog):
        xs = oplog.latencies["pass"]
        return {"corpus_pass_p50_s": metric(p50(xs), "s", len(xs))}


WORKLOADS = {w.name: w for w in (CowUpsert, MorIngestCompact, SnapshotReads,
                                 CorpusDedup)}
