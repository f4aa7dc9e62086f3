"""The closed-loop workloads.

One client drives one table: each operation starts only after the
previous one returned. A workload sets up its table, then runs in cycles:
a few ingest rounds followed by the periodic service (compaction on MOR,
the keep-best refresh on the corpus). One untimed warm-up cycle runs every
operation once, so the timed samples do not include first-call JIT and
code-generation cost. The timed phase then runs ``round(seconds /
CYCLE_S)`` cycles (at least two), with ``CYCLE_S`` the workload's nominal
cycle time. The run length follows ``--seconds`` while every run of a
workload performs the same operations in the same order, so runs at
different seeds compare like with like and end in the same table state.
Input rows come from :mod:`perfbench.gen`; ``hoodie_spark`` sees only
DataFrames built from them.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from . import check
from .gen import DOCS_SCHEMA, ORDERS_SCHEMA, DocStream, OrderStream
from .stats import space_amp, write_amp

SETUP_REPEATS = 3


def cycles_for(seconds: float, cycle_s: float) -> int:
    return max(2, round(seconds / cycle_s))


class Abort(Exception):
    """An operation raised: the table state is unknown, stop the loop."""


@dataclass
class Outcome:
    workload: str
    setup_s: float = 0.0
    setup_parts: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)      # kind -> [seconds]
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    records: int = 0
    timed_s: float = 0.0
    write_amp: float | None = None
    space_amp: float | None = None
    digest: str = ""
    batches: int = 0
    layer: dict = field(default_factory=dict)        # per-layer counts
    inputs: dict = field(default_factory=dict)
    warmup_s: float = 0.0
    calibration_start: dict = field(default_factory=dict)
    first_op_at: float = 0.0                         # perf_counter()


class Loop:
    """Times operations, runs their output checks and counts failures.

    While ``timing`` is off (the warm-up) operations still run and are
    checked, but their durations are not kept as samples.
    """

    def __init__(self, out: Outcome, tracer):
        self.out = out
        self.tracer = tracer
        self.timing = True
        self.last_s = 0.0   # duration of the latest operation

    def op(self, kind: str, fn, verify=None):
        out = self.out
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench.{kind}"):
                result = fn()
        except Exception as e:  # the run continues to report; state is lost
            out.failed += 1
            out.failures.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            raise Abort from e
        self.last_s = time.perf_counter() - t0
        if self.timing:
            out.samples.setdefault(kind, []).append(self.last_s)
        problems = verify(result) if verify else []
        if problems:
            out.failed += 1
            out.failures.extend(problems)
        return result

    def record(self, kind: str, seconds: float) -> None:
        if self.timing:
            self.out.samples.setdefault(kind, []).append(seconds)


# --------------------------------------------------------- storage meters
def _files(base: str, data_only: bool):
    for root, dirs, files in os.walk(base):
        if data_only and ".hoodie" in dirs:
            dirs.remove(".hoodie")
        for f in files:
            p = os.path.join(root, f)
            try:
                yield p, os.path.getsize(p)
            except FileNotFoundError:
                continue


def tree_bytes(base: str) -> int:
    return sum(s for _p, s in _files(base, data_only=False))


class WriteMeter:
    """Bytes of data files that appeared under the table since ``start``.

    Data files are immutable and uniquely named per instant, so scanning
    after every operation sees each one before the cleaner can remove it.
    Timeline and index files under ``.hoodie`` are not counted.
    """

    def __init__(self, base: str):
        self.base = base
        self.seen: dict[str, int] = {}
        self.written = 0

    def start(self) -> None:
        self.seen = dict(_files(self.base, data_only=True))
        self.written = 0

    def scan(self) -> None:
        for p, s in _files(self.base, data_only=True):
            if p not in self.seen:
                self.seen[p] = s
                self.written += s


def _median_setup(make, repeats: int = SETUP_REPEATS):
    """Run ``make(i)`` ``repeats`` times; return the last result and the
    median duration."""
    times, result = [], None
    for i in range(repeats):
        t0 = time.perf_counter()
        result = make(i)
        times.append(time.perf_counter() - t0)
    return result, statistics.median(times), times


def calibrate(spark) -> dict:
    """Host-load figure: a fixed in-memory Spark aggregate and a fixed
    pure-Python loop, read right before the timed phase and after it, both
    times on a warm JVM. Slower readings mean a busier host; the reading at
    the end also carries the share of CPU time the hypervisor stole
    during the run."""
    t0 = time.perf_counter()
    spark.range(0, 1_000_000, numPartitions=4) \
        .selectExpr("sum(id % 7) AS s").collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    t2 = time.perf_counter()
    return {"spark_s": t1 - t0, "python_s": t2 - t1}


def _checked(out: Outcome, problems: list[str]) -> None:
    """Count a check that is not a timed operation."""
    out.attempted += 1
    if problems:
        out.failed += 1
        out.failures.extend(problems)


def _final_check(out: Outcome, problems_of) -> None:
    """The final snapshot against the model, as one more checked
    operation; skipped when an earlier failure already lost the state."""
    if not out.failed:
        _checked(out, problems_of())


def _commit_stats(tbl, after: str, ops) -> tuple[int, int]:
    """(files written, records written) by this run's commits of the given
    operations, read from commit metadata."""
    files = records = 0
    for c in tbl.commits():
        if c["instant"] > after and c["operation"] in ops:
            files += c["files"]
            records += c["records"]
    return files, records


# ----------------------------------------------------------- order tables
TABLE_WORKLOADS = {
    # partitioned COW; ~1% of keys per round, 90% in the latest year
    "cow_upsert_mix": dict(table_type="COPY_ON_WRITE", base_rows=150_000,
                           upsert_frac=0.01, recent_share=0.9,
                           new_per_round=20, delete_every=3, delete_rows=100,
                           service_every=3, cycle_s=15.0),
    # MOR; small delta commits, all in the latest year: a timed cycle is
    # two rounds, i.e. two upserts and one delete, then a compaction.
    # Deletes are a third of the commits, so the commit median lies among
    # the upserts.
    "mor_stream_compact": dict(table_type="MERGE_ON_READ",
                               base_rows=50_000, upsert_frac=0.006,
                               recent_share=1.0, new_per_round=10,
                               delete_every=2, delete_rows=50,
                               service_every=2, cycle_s=9.0),
}
CLEAN_RETAINED = 4
ARCHIVE_MAX_ACTIVE = 12


def run_orders(spark, name: str, seed: int, seconds: float, work: str,
               tracer, traced: bool) -> Outcome:
    from hoodie_spark import HoodieTable

    p = TABLE_WORKLOADS[name]
    out = Outcome(name)
    loop = Loop(out, tracer)
    gen = OrderStream(seed, base_rows=p["base_rows"],
                      upsert_frac=p["upsert_frac"],
                      recent_share=p["recent_share"],
                      new_per_round=p["new_per_round"],
                      delete_every=p["delete_every"],
                      delete_rows=p["delete_rows"])
    is_mor = p["table_type"] == "MERGE_ON_READ"
    out.inputs = {"base_rows": len(gen.base()),
                  "upsert_rows_per_round": gen.upsert_rows
                  + gen.new_per_round,
                  "delete_rows": gen.delete_rows,
                  "delete_every": gen.delete_every,
                  "recent_share": gen.recent_share,
                  "service_every": p["service_every"],
                  "table_type": p["table_type"],
                  "warmup": "1 upsert round and 1 service",
                  "cycles": cycles_for(seconds, p["cycle_s"])}

    t0 = time.perf_counter()
    base_df = check.frame(spark, gen.base(), ORDERS_SCHEMA).persist()
    prep_s = time.perf_counter() - t0
    model = check.OrdersModel(gen.base())

    def make(i):
        tbl = HoodieTable.create(
            spark, os.path.join(work, f"orders{i}"), "orders",
            ["o_orderkey"], "o_version",
            partition_expr="cast(year(o_orderdate) as string)",
            table_type=p["table_type"])
        tbl.bulk_insert(base_df)
        # checking the load also runs the read and pull paths once, so
        # the timed reads are not the first ones
        _checked(out, check.same_value(
            "bulk load read", check.orders_read(tbl.snapshot()),
            model.expected_read()) + check.same_value(
            "bulk load pull", tbl.incremental().count(), len(gen.base())))
        return tbl

    tbl, load_s, loads = _median_setup(make)
    base_df.unpersist()
    for i in range(SETUP_REPEATS - 1):
        shutil.rmtree(os.path.join(work, f"orders{i}"))
    out.setup_s = prep_s + load_s
    out.setup_parts = {"base_rows_to_df_s": prep_s, "bulk_load_s": loads}
    st = tbl.stats()
    bpr = st["total_bytes"] / st["total_records"]

    meter = WriteMeter(tbl.base_path)
    log_files = []
    prev = tbl.commits()[-1]["instant"]

    def service():
        """Returns the compaction instant, if one was made."""
        r0 = time.perf_counter()
        made = loop.op("compaction", lambda: tbl.compact()) if is_mor \
            else None
        loop.op("clean", lambda: tbl.clean(retained=CLEAN_RETAINED))
        loop.op("archive", lambda: tbl.archive(ARCHIVE_MAX_ACTIVE))
        loop.record("service", time.perf_counter() - r0)
        meter.scan()
        return made

    def commit(what, fn, applied, expect_keys, round_no):
        """One write, then the snapshot aggregate and the pull of exactly
        this commit; returns the commit's duration."""
        nonlocal prev
        res = loop.op("commit", fn)
        took = loop.last_s
        applied()
        meter.scan()
        if traced and loop.timing:
            with tracer.paused():
                log_files.append(tbl.stats()["log_files"])
        loop.op("read", lambda: check.orders_read(tbl.snapshot()),
                lambda got: check.same_value(
                    f"round {round_no} {what} read", got,
                    model.expected_read()))
        loop.op("incremental",
                lambda: [r[0] for r in tbl.incremental(begin=prev)
                         .select("o_orderkey").collect()],
                lambda got: check.same_keys(
                    f"round {round_no} {what} incremental", got,
                    expect_keys))
        prev = res.instant
        return took

    def rounds(n):
        """``n`` rounds, each an upsert (and on every ``delete_every``-th
        round a delete), each commit followed by its read and pull. One
        round sample is their writes: the delta commits between two
        compactions on MOR. Returns the records written."""
        ingest, records = 0.0, 0
        for _ in range(n):
            b = gen.next_batch()
            ups = check.frame(spark, b.upserts, ORDERS_SCHEMA)
            ingest += commit("upsert", lambda: tbl.upsert(ups),
                             lambda: model.apply_upserts(b.upserts),
                             [r[0] for r in b.upserts], b.round_no)
            if b.deletes:
                dels = check.frame(spark, b.deletes, ORDERS_SCHEMA)
                # deleted keys have no current value, so their pull is empty
                ingest += commit("delete", lambda: tbl.delete(dels),
                                 lambda: model.apply_deletes(b.deletes),
                                 [], b.round_no)
            records += b.records
        loop.record("round", ingest)
        return records

    setup_instant = prev
    try:
        # warm-up: one upsert round and one service
        loop.timing = False
        w0 = time.perf_counter()
        rounds(1)
        prev = service() or prev
        out.warmup_s = time.perf_counter() - w0
        loop.timing = True
        meter.start()
        setup_instant = prev
        out.calibration_start = calibrate(spark)
        tracer.active = traced
        t_start = out.first_op_at = time.perf_counter()
        for _ in range(out.inputs["cycles"]):
            out.records += rounds(p["service_every"])
            prev = service() or prev
    except Abort:
        t_start = out.first_op_at or time.perf_counter()
    finally:
        tracer.active = False
    out.timed_s = time.perf_counter() - t_start
    out.digest, out.batches = gen.digest.hexdigest(), gen.digest.batches

    if out.records:
        out.write_amp = write_amp(meter.written, out.records, bpr)
    out.space_amp = space_amp(tree_bytes(tbl.base_path),
                              tbl.stats()["total_bytes"])
    _final_check(out, lambda: check.final_orders(
        spark, tbl.snapshot(), list(model.rows.values())))
    if traced:
        files, written = _commit_stats(tbl, setup_instant,
                                       ("upsert", "delete"))
        out.layer = {
            "writer.files_written": files,
            "writer.rows_rewritten_per_changed_row":
                written / out.records if out.records else 0.0,
            "reader.log_files_merged":
                statistics.mean(log_files) if log_files else 0.0,
        }
    return out

# ------------------------------------------------------------------ corpus
CORPUS = dict(base_docs=500, batch_docs=150, exact_share=0.15,
              near_share=0.10, junk_share=0.05, refresh_every=1,
              dedup_buckets=8, cycle_s=12.5)


def run_corpus(spark, name: str, seed: int, seconds: float, work: str,
               tracer, traced: bool) -> Outcome:
    from hoodie_spark import HoodieTable
    from hoodie_spark import functions as HF
    from hoodie_spark.streaming import IncrementalDeduper

    out = Outcome(name)
    loop = Loop(out, tracer)
    gen = DocStream(seed, base_docs=CORPUS["base_docs"],
                    batch_docs=CORPUS["batch_docs"],
                    exact_share=CORPUS["exact_share"],
                    near_share=CORPUS["near_share"],
                    junk_share=CORPUS["junk_share"])
    out.inputs = dict(CORPUS, warmup="1 round and 1 refresh",
                      cycles=cycles_for(seconds, CORPUS["cycle_s"]))

    t0 = time.perf_counter()
    base_df = check.frame(spark, gen.base(), DOCS_SCHEMA).persist()
    prep_s = time.perf_counter() - t0
    admitted = list(gen.base())
    n_rows = len(admitted)
    n_chars = sum(len(r[1]) for r in admitted)

    def make(i):
        tbl = HoodieTable.create(spark, os.path.join(work, f"docs{i}"),
                                 "docs", ["doc_id"], None)
        tbl.bulk_insert(base_df)
        # checking the load also runs the read and pull paths once
        _checked(out, check.same_value(
            "bulk load read", check.docs_read(tbl.snapshot()),
            (n_rows, n_chars)) + check.same_value(
            "bulk load pull", tbl.incremental().count(), n_rows))
        return tbl

    tbl, load_s, loads = _median_setup(make)
    for i in range(SETUP_REPEATS - 1):
        shutil.rmtree(os.path.join(work, f"docs{i}"))
    t0 = time.perf_counter()
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8,
                            n_buckets=CORPUS["dedup_buckets"])
    dd.advance(base_df)
    once_s = time.perf_counter() - t0
    base_df.unpersist()
    gen.start()
    out.setup_s = prep_s + load_s + once_s
    out.setup_parts = {"base_rows_to_df_s": prep_s, "bulk_load_s": loads,
                       "dedup_state_s": once_s}
    st = tbl.stats()
    bpr = st["total_bytes"] / st["total_records"]

    meter = WriteMeter(tbl.base_path)
    inserted = 0
    prev = tbl.commits()[-1]["instant"]
    lm = None   # trained by each refresh, the first one in the warm-up

    def refresh():
        nonlocal lm
        snap_rows = n_rows

        def keep_best():
            best = HF.dedup_keep_best(
                tbl.snapshot().withColumn("score", F.length("text")),
                "doc_id", "text", "score").persist()
            r = best.agg(F.count(F.lit(1)), F.sum("n_dups")).first()
            return best, int(r[1] or 0)

        r0 = time.perf_counter()
        best, _covered = loop.op(
            "keep_best", keep_best,
            lambda got: check.same_value("refresh clusters cover the table",
                                         got[1], snap_rows))
        try:
            lm = loop.op("retrain", lambda: HF.train_bigram_lm(best, "text"))
        finally:
            best.unpersist()
        loop.record("service", time.perf_counter() - r0)

    def ingest_round():
        """Filter, score, insert and advance one batch; the read and pull
        after the insert are timed apart. Returns the docs offered."""
        nonlocal prev, inserted, n_rows, n_chars
        b = gen.next_batch()
        bdf = check.frame(spark, b.rows, DOCS_SCHEMA)
        texts = {r[0]: r for r in b.rows}
        exact, fresh, junk = b.ids("exact"), b.ids("fresh"), b.ids("junk")

        def verify_filter(kept, rn=b.round_no):
            ks = set(kept)
            bad = []
            if ks & exact:
                bad.append(f"round {rn}: {len(ks & exact)} exact "
                           "copies admitted")
            if fresh - ks:
                bad.append(f"round {rn}: {len(fresh - ks)} fresh "
                           "docs rejected")
            return bad

        kept = loop.op(
            "filter", lambda: [r[0] for r in dd.filter_batch(bdf)
                               .select("doc_id").collect()],
            verify_filter)
        filter_s = loop.last_s

        def score():
            gated = HF.gopher_filter(bdf.filter(F.col("doc_id")
                                                .isin(kept)), "text")
            ppl = HF.bigram_perplexity(gated, "doc_id", "text", lm=lm)
            return [r[0] for r in ppl.select("doc_id").collect()]

        survivors = loop.op(
            "score", score,
            lambda got: [f"round {b.round_no}: junk passed Gopher"]
            if set(got) & junk else [])
        score_s = loop.last_s
        rows = [texts[i] for i in sorted(survivors)]
        ins = check.frame(spark, rows, DOCS_SCHEMA)
        res = loop.op("commit", lambda: tbl.insert(ins))
        ingest = filter_s + score_s + loop.last_s
        if loop.timing:
            inserted += len(rows)
        admitted.extend(rows)
        n_rows += len(rows)
        n_chars += sum(len(r[1]) for r in rows)
        meter.scan()
        loop.op("read", lambda: check.docs_read(tbl.snapshot()),
                lambda got: check.same_value(
                    f"round {b.round_no} read", got, (n_rows, n_chars)))
        loop.op("incremental",
                lambda: [r[0] for r in tbl.incremental(begin=prev)
                         .select("doc_id").collect()],
                lambda got: check.same_keys(
                    f"round {b.round_no} incremental", got,
                    [r[0] for r in rows]))
        prev = res.instant
        loop.op("advance", lambda: dd.advance(bdf))
        loop.record("round", ingest + loop.last_s)
        return len(b.rows)

    setup_instant = prev
    try:
        # warm-up: one refresh, which also trains the first LM, and one
        # round
        loop.timing = False
        w0 = time.perf_counter()
        refresh()
        ingest_round()
        out.warmup_s = time.perf_counter() - w0
        loop.timing = True
        meter.start()
        setup_instant = prev
        out.calibration_start = calibrate(spark)
        tracer.active = traced
        t_start = out.first_op_at = time.perf_counter()
        for _ in range(out.inputs["cycles"]):
            for _ in range(CORPUS["refresh_every"]):
                out.records += ingest_round()
            refresh()
    except Abort:
        t_start = out.first_op_at or time.perf_counter()
    finally:
        tracer.active = False
    out.timed_s = time.perf_counter() - t_start
    out.digest, out.batches = gen.digest.hexdigest(), gen.digest.batches

    if inserted:
        out.write_amp = write_amp(meter.written, inserted, bpr)
    out.space_amp = space_amp(tree_bytes(tbl.base_path),
                              tbl.stats()["total_bytes"])
    _final_check(out, lambda: check.final_docs(spark, tbl.snapshot(),
                                               admitted))
    if traced:
        files, written = _commit_stats(tbl, setup_instant, ("insert",))
        out.layer = {
            "writer.files_written": files,
            "writer.rows_rewritten_per_changed_row":
                written / inserted if inserted else 0.0,
            "reader.log_files_merged": 0.0,
        }
    return out

WORKLOADS = {
    "cow_upsert_mix": run_orders,
    "mor_stream_compact": run_orders,
    "corpus_dedup_ingest": run_corpus,
}
