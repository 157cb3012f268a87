"""The benchmark's workloads.  Each drives the engine's public functions in a
closed loop with one client, checks every output, and records its
measurements on a ``Ctx``.

Every workload has a main operation and a side operation, timed separately:

=============  ======================================  =======================
workload       main operation                          side operation
=============  ======================================  =======================
backfill-bulk  feature backfill to parquet, local[4]   the same at local[1]
serve-ingest   one as-of lookup of a 500-probe batch   one merge_upsert commit
=============  ======================================  =======================

With tracing on, a run first times the main operation untraced, then
restarts the SparkContext with Spark's event log on, repeats the loop inside
spans, and adds the layer probes: noop-sink executions of each layer's plan
prefix, whose differences give each layer's own execution time, and (on
backfill-bulk) a cold and a resumed run of the bucketed ``plans.backfill``.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from uncharted_ta1_spark import datagen
from uncharted_ta1_spark.features import (
    FEATURE_PAYLOAD,
    feature_backfill,
    sequence_features,
)
from uncharted_ta1_spark.plans import merge
from uncharted_ta1_spark.plans.backfill import read_backfill_output, run_backfill
from uncharted_ta1_spark.streaming.asof_serve import asof_answer_batch

from harness import (
    DRIVER_MEMORY,
    OFF_HEAP,
    Session,
    Tally,
    digest,
    noop,
    quantile,
    timed_loop,
)
from inputs import write_base_tables
from tracing import EventLog, Tracer, covered_s, skew

# Base tables shaped like the sf0.1 test tier: 5000 documents, 150k orders.
N_DOCS = 5000
N_ORDERS = 150_000
BULK_AMP = 6
SERVE_AMP = 2
RESUME_BUCKETS = 16
# operations run before timing starts, as the first ones run up to 3x
# slower while the JIT compiles the hot paths: local[4] backfills on bulk
# (after the staging, which warms the parquet paths); on serve, whole
# commit-and-lookup cycles (lookups keep getting faster for 20-30 calls,
# and the median absorbs the rest of that slope)
BULK_WARMUP_REPS = 1
SERVE_WARMUP_CYCLES = 2
LOOKUP_BATCH = 500
# "several lookups per commit": 100 lookups to 40 commits, rounded up
LOOKUPS_PER_COMMIT = 3
# the serve table holds the first 70% of the derived sequences in event
# time; a commit delivers a slice of 1% of the table and re-delivers the
# previous one, so it touches about 2% of the table
LOAD_SHARE = 0.7
SLICE_SHARE = 0.01

SEQ_COLS = ("doc_id", "source", "seq_no", "event_epoch", "tokens", "n_tok")
PROBE_COLS = ("probe_id", "doc_id", "source", "ts_epoch")
TABLE_KEYS = ["doc_id", "source", "seq_no"]
SERVE_KEYS = ["doc_id", "source"]
# the client hands its batches and deltas to Spark as Arrow tables, which
# become DataFrames inside the JVM; a list of rows would be decoded by
# Python worker processes on every execution of the plan
PROBE_SCHEMA = pa.schema([
    ("probe_id", pa.string()), ("doc_id", pa.string()),
    ("source", pa.string()), ("ts_epoch", pa.int64()),
])
DELTA_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("source", pa.string()), ("seq_no", pa.int32()),
    ("event_epoch", pa.int64()), ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()), ("deleted", pa.bool_()),
])


@dataclass
class Ctx:
    """State of one benchmark run."""

    work: str
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    tally: Tally = field(default_factory=Tally)
    rng: random.Random = None
    e2e: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    sess: Session = None
    untraced_main: list = field(default_factory=list)
    ladder: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self.sess = Session(self.work, self.tracer)
        self._t_phase = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase of the run under ``name``."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._t_phase
        self._t_phase = now

    @property
    def spark(self):
        return self.sess.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def amplified(seq, prb, amp: int):
    """``amp`` replicas of the derived inputs: each replica suffixes doc_id
    (and probe_id), so keys and shuffle volume scale while every key keeps
    its rows, its window features and its hot-key skew."""
    seq = seq.select(*SEQ_COLS)
    prb = prb.select(*PROBE_COLS)
    if amp == 1:
        return seq, prb
    rep = F.explode(F.sequence(F.lit(0), F.lit(amp - 1))).alias("rep")
    seq = seq.select("*", rep).withColumn(
        "doc_id", F.concat_ws("#", "doc_id", "rep")
    ).drop("rep")
    prb = (
        prb.select("*", rep)
        .withColumn("doc_id", F.concat_ws("#", "doc_id", "rep"))
        .withColumn("probe_id", F.concat_ws("#", "probe_id", "rep"))
        .drop("rep")
    )
    return seq, prb


def arrow_rows(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    """Row tuples as an Arrow table of ``schema``."""
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def local_rows(df) -> list[tuple]:
    """A small DataFrame's rows as tuples, fetched as Arrow."""
    t = df.toArrow()
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def derived(ctx: Ctx, amp: int = 1):
    base = ctx.path("base")
    return amplified(
        datagen.sequences_df(ctx.spark, base), datagen.probes_df(ctx.spark, base), amp
    )


def row_groups(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_row_groups
    return n


def dir_bytes_files(path: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(root, f))
                nfiles += 1
    return nbytes, nfiles


def setup(ctx: Ctx, master: str, stage, prepare=lambda: None) -> None:
    """JVM start plus one run of the staging step, on the fresh JVM as a
    user pays it (a run has no time to repeat it); ``prepare`` runs in
    between, untimed: the client's own inputs."""
    write_base_tables(ctx.path("base"), ctx.seed, N_DOCS, N_ORDERS)
    ctx.phase("inputs")
    jvm_s = ctx.sess.start(master)
    ctx.phase("setup")
    prepare()
    ctx.phase("client")
    t0 = time.perf_counter()
    stage()
    stage_s = time.perf_counter() - t0
    ctx.e2e["setup_s"] = jvm_s + stage_s
    ctx.layer["setup.jvm_s"] = jvm_s
    ctx.layer["datagen.stage_s"] = stage_s
    ctx.phase("setup")


def start_traced(ctx: Ctx, master: str) -> None:
    """Restart the SparkContext with the event log on and spans recording."""
    ctx.sess.start(master, event_log=True)
    ctx.tracer.enabled = True


def run_ladder(ctx: Ctx, steps: dict, sink_dir: str) -> None:
    """Layer probes: each step is a DataFrame builder executed into a noop
    sink (and the last one also into parquet), twice; the faster run
    counts, as a single run still pays first-use costs now and then.
    Differences between steps are layer self times."""
    def best_of_two(name, run):
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            with ctx.span(f"probe.{name}"):
                run()
            times.append(time.perf_counter() - t0)
        ctx.ladder[name] = min(times)

    for name, build in steps.items():
        best_of_two(name, lambda: noop(build()))
    best_of_two("sink", lambda: steps["answer"]().write.mode("overwrite").parquet(sink_dir))
    rows = ctx.spark.read.parquet(sink_dir).count()
    nbytes, nfiles = dir_bytes_files(sink_dir)
    ctx.layer["sink.bytes_per_row"] = nbytes / max(rows, 1)
    ctx.layer["sink.files"] = nfiles
    ctx.phase("probes")


def op_stats(ctx: Ctx, ev: EventLog, op_name: str) -> list[dict]:
    """Per traced operation: wall time, its Spark jobs, stages and tasks,
    and the time none of its jobs was running (driver-side work)."""
    tr = ctx.tracer
    out = []
    for op in tr.named(op_name):
        ids = {s["id"] for s in tr.spans if tr.ancestor_named(s["id"], op_name) == op["id"]}
        jobs = ev.jobs_under(ids)
        stages = ev.stages_of(jobs)
        wall = op["end"] - op["start"]
        cov = covered_s([(j["start"], j["end"]) for _a, j in jobs if j["end"]],
                        op["start"], op["end"])
        scans = [s for s in stages if s["input_bytes"] > 0 and s["tasks"]]
        joins = [s for s in stages if s["shuffle_read"] > 0 and s["tasks"]]
        flagged = lambda flag: sum(  # noqa: E731
            s["end"] - s["start"] for s in tr.spans if s["id"] in ids and s.get(flag))
        out.append({
            "wall": wall,
            "jobs": len(jobs),
            "tasks": sum(len(s["tasks"]) for s in stages),
            "shuffle_write": sum(s["shuffle_write"] for s in stages),
            "spill": sum(s["spill"] for s in stages),
            "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
            "input_records": sum(s["input_records"] for s in stages),
            "nonjob_s": wall - cov,
            "job_frac": cov / wall if wall > 0 else 0.0,
            "scan_skew": max((skew(s) for s in scans), default=1.0),
            "join_skew": skew(max(joins, key=lambda s: s["run_ms"])) if joins else 1.0,
            "lazy_s": flagged("lazy"),
            "open_s": flagged("open"),
        })
    return out


def med(rows: list[dict], key: str) -> float:
    return median([r[key] for r in rows])


def layer_metrics(ctx: Ctx, ev: EventLog, main: str, side: str,
                  probes_per_main: int) -> None:
    """Per-layer numbers from the spans, the event log and the probes."""
    lad = ctx.ladder
    L = ctx.layer
    L["datagen.derive_s"] = lad["derive"]
    L["scan.self_s"] = lad["scan_state"] + lad["scan_probes"]
    L["features.self_s"] = lad["features"] - lad["scan_state"]
    L["asof.self_s"] = lad["answer"] - lad["features"] - lad["scan_probes"]
    L["sink.self_s"] = lad["sink"] - lad["answer"]

    mains = op_stats(ctx, ev, main)
    sides = op_stats(ctx, ev, side)
    L["scan.task_max_over_median"] = med(mains, "scan_skew")
    L["scan.open_s"] = med(mains, "open_s")
    L["asof.join_task_max_over_median"] = med(mains, "join_skew")
    L["asof.state_rows_scanned_per_probe"] = med(mains, "input_records") / probes_per_main
    L["plan.build_s"] = med(mains, "lazy_s")
    L["driver.nonjob_s"] = med(mains, "nonjob_s")
    L["trace.job_frac"] = med(mains, "job_frac")
    L["spark.jobs_per_op"] = med(mains, "jobs")
    L["spark.jobs_per_side_op"] = med(sides, "jobs")
    L["spark.tasks_per_op"] = med(mains, "tasks")
    L["spark.shuffle_write_bytes"] = med(mains, "shuffle_write")
    L["spark.spill_bytes"] = med(mains, "spill")
    L["spark.gc_s"] = med(mains, "gc_s")
    L["spark.input_records_per_op"] = med(mains, "input_records")
    L["spark.input_records_per_side_op"] = med(sides, "input_records")
    L["trace.overhead_frac"] = med(mains, "wall") / median(ctx.untraced_main) - 1.0


# ---------------------------------------------------------------------------
# backfill-bulk, with the resume probe of its traced run
# ---------------------------------------------------------------------------

def lose_half(ctx: Ctx, out_dir: str) -> None:
    """Crash: half the commits are lost; of those, half also lose their
    data (full recompute) and half keep it (orphan replace)."""
    lost = ctx.rng.sample(range(RESUME_BUCKETS), RESUME_BUCKETS // 2)
    data_gone = lost[: len(lost) // 2]
    ckpt = os.path.join(out_dir, "_checkpoint")
    for fname in os.listdir(ckpt):
        fp = os.path.join(ckpt, fname)
        if fname.endswith(".parquet") and pq.read_table(fp).to_pylist()[0]["bucket"] in lost:
            os.unlink(fp)
    for b in data_gone:
        shutil.rmtree(os.path.join(out_dir, "data", f"bucket={b}"))


def resume_probe(ctx: Ctx) -> None:
    """The bucketed backfill of ``plans.backfill`` from the base tables: two
    cold runs (the first warms the plan), then a resume after half the
    commits were lost, whose output must equal the cold output."""
    base, out_dir = ctx.path("base"), ctx.path("backfill")
    half = RESUME_BUCKETS // 2

    def run(op_name):
        t0 = time.perf_counter()
        with ctx.span(op_name):
            with ctx.span("backfill.run_backfill"):
                r = run_backfill(ctx.spark, base, out_dir, n_buckets=RESUME_BUCKETS)
        return r, time.perf_counter() - t0

    for op_name in ("warmup", "op.cold"):
        shutil.rmtree(out_dir, ignore_errors=True)
        r, cold_s = run(op_name)
        ctx.tally.check(r["buckets_computed"] == RESUME_BUCKETS and r["rows"] == N_ORDERS,
                        f"cold backfill: {r}")
    ref = digest(read_backfill_output(ctx.spark, out_dir))
    ctx.tally.check(ref[0] == N_ORDERS and ref[1] == 0, f"cold backfill output: {ref}")
    lose_half(ctx, out_dir)
    r, resume_s = run("op.resume")
    ctx.tally.check(r["buckets_computed"] == half and r["buckets_done_before"] == half,
                    f"resume plan: {r}")
    got = digest(read_backfill_output(ctx.spark, out_dir))
    ctx.tally.check(got == ref, f"resumed output {got} differs from cold {ref}")
    ctx.summary.update({"cold_s": cold_s, "resume_s": resume_s, "lost_share": 0.5})
    ctx.phase("resume")


def resume_metrics(ctx: Ctx, ev: EventLog) -> None:
    cold, = op_stats(ctx, ev, "op.cold")
    res, = op_stats(ctx, ev, "op.resume")
    ctx.layer["resume.work_share"] = res["wall"] / cold["wall"]
    ctx.layer["backfill.jobs_per_run"] = cold["jobs"]
    ctx.layer["backfill.input_rows_share"] = res["input_records"] / cold["input_records"]
    ctx.layer["backfill.nonjob_share"] = cold["nonjob_s"] / cold["wall"]


def backfill_bulk(ctx: Ctx) -> None:
    staged = ctx.path("staged")

    def stage():
        seq, prb = derived(ctx, BULK_AMP)
        seq.write.mode("overwrite").parquet(f"{staged}/sequences")
        prb.write.mode("overwrite").parquet(f"{staged}/probes")

    setup(ctx, "local[4]", stage)
    n_seq = ctx.spark.read.parquet(f"{staged}/sequences").count()
    n_prb = ctx.spark.read.parquet(f"{staged}/probes").count()
    rows = n_seq + n_prb

    sink = ctx.path("sink")

    def backfill(op_name):
        with ctx.span(op_name):
            with ctx.span("scan.read_parquet", open=True):
                seq = ctx.spark.read.parquet(f"{staged}/sequences")
                prb = ctx.spark.read.parquet(f"{staged}/probes")
            with ctx.span("features.feature_backfill", lazy=True):
                out = feature_backfill(seq, prb, payload=FEATURE_PAYLOAD)
            with ctx.span("sink.write_parquet"):
                out.write.mode("overwrite").parquet(sink)

    def check(leg):
        n, leak, h = digest(ctx.spark.read.parquet(sink))
        ctx.tally.check(n == n_prb, f"{leg}: {n} output rows for {n_prb} probes")
        ctx.tally.check(leak == 0, f"{leg}: {leak} rows matched a later state row")
        return h

    win = ctx.seconds / 2
    for _ in range(BULK_WARMUP_REPS):
        backfill("warmup")
    ctx.phase("warmup")
    if ctx.trace:
        ctx.untraced_main = timed_loop(win / 2, 2, lambda: backfill("op.local4"))
        start_traced(ctx, "local[4]")
        backfill("warmup")  # the first job of a new SparkContext runs slow
        t4 = timed_loop(win / 2, 2, lambda: backfill("op.local4"))
        ctx.tally.attempted += len(ctx.untraced_main)
    else:
        t4 = timed_loop(win, 3, lambda: backfill("op.local4"))
    ctx.tally.attempted += len(t4)
    ctx.phase("measure")
    h4 = check("local[4]")
    ctx.phase("check")
    if ctx.trace:
        resume_probe(ctx)
        state = lambda: ctx.spark.read.parquet(f"{staged}/sequences")  # noqa: E731
        probes = lambda: ctx.spark.read.parquet(f"{staged}/probes")  # noqa: E731
        run_ladder(ctx, {
            "derive": lambda: derived(ctx, BULK_AMP)[0].unionByName(
                derived(ctx, BULK_AMP)[1], allowMissingColumns=True),
            "scan_state": state,
            "scan_probes": probes,
            "features": lambda: sequence_features(state()),
            "answer": lambda: feature_backfill(state(), probes(), payload=FEATURE_PAYLOAD),
        }, ctx.path("probe_sink"))
        ctx.layer["scan.row_groups"] = row_groups(staged)

    # the JVM is already warm from the local[4] leg; a local[1] backfill
    # takes about 8 s, so the leg times two
    ctx.sess.start("local[1]", event_log=ctx.trace)
    t1 = timed_loop(win, 2, lambda: backfill("op.local1"))
    ctx.tally.attempted += len(t1)
    ctx.phase("measure")
    h1 = check("local[1]")
    ctx.tally.check(h1 == h4, "local[1] and local[4] outputs differ")
    ctx.phase("check")
    ctx.e2e["peak_rss_mb"] = ctx.sess.peak_rss_mb()
    ctx.e2e["main_op_s_p50"] = median(t4)
    ctx.e2e["side_op_s_p50"] = median(t1)
    eff = (median(t1) / median(t4)) / 4
    ctx.summary.update({
        "input_rows": rows,
        "backfill_rows_per_s": rows / median(t4),
        "backfill_rows_per_s_1core": rows / median(t1),
        "scaling_efficiency": eff,
        "local4_s": t4,
        "local1_s": t1,
    })
    if ctx.trace:
        ctx.sess.spark.stop()
        ev = EventLog(ctx.path("events"))
        ctx.layer["bulk.scaling_efficiency"] = eff
        resume_metrics(ctx, ev)
        layer_metrics(ctx, ev, "op.local4", "op.local1", n_prb)
        ctx.layer["merge.bytes_written_per_delta_byte"] = 0.0
        ctx.layer["merge.buckets_read_per_lookup"] = 0


# ---------------------------------------------------------------------------
# serve-ingest
# ---------------------------------------------------------------------------

class Timeline:
    """The derived sequences in event-time order, cut into slices of about
    ``step`` rows (a slice never splits one event time).  The first
    LOAD_SHARE of the slices make the table; commit ``k`` then delivers
    the next slice and re-delivers the one before it, as the repository's
    merge queries do: ``q_merge_*`` upsert a time slice (T1, T2] of the
    datagen, ``q_merge_timetravel`` replays a delta, and ``q_merge_delete``
    turns a row with ``n_tok % 3 = 0`` into a tombstone.  So the client
    knows each commit's exact update, insert and delete counts."""

    def __init__(self, rows: list[tuple]):
        rows = sorted(rows, key=lambda r: r[3])
        epochs = [r[3] for r in rows]
        step = max(1, int(len(rows) * LOAD_SHARE * SLICE_SHARE))
        cuts = [0]
        while cuts[-1] < len(rows):
            last = min(cuts[-1] + step, len(rows)) - 1
            cuts.append(bisect.bisect_right(epochs, epochs[last]))
        self.slices = [rows[a:b] for a, b in zip(cuts, cuts[1:])]
        self.loaded = int(len(self.slices) * LOAD_SHARE)
        self.t_load = self.slices[self.loaded - 1][-1][3]
        self.live = sum(len(s) for s in self.slices[: self.loaded])
        self.commits = 0

    def delta(self) -> tuple[list[tuple], tuple[int, int, int]]:
        """The next commit's rows and the (updated, inserted, deleted)
        counts the merge must report for it."""
        k = self.loaded + self.commits
        if k >= len(self.slices):
            raise RuntimeError("serve-ingest ran out of time slices")
        fresh, again = self.slices[k], self.slices[k - 1]
        rows = [(*r, False) for r in fresh] + [(*r, r[5] % 3 == 0) for r in again]
        deleted = sum(1 for r in again if r[5] % 3 == 0)
        self.commits += 1
        self.live += len(fresh) - deleted
        return rows, (len(again) - deleted, len(fresh), deleted)


def delta_bytes(rows) -> int:
    """Logical size of a delta: strings, ints and token arrays."""
    return sum(len(r[0]) + len(r[1]) + 4 + 8 + 4 * len(r[4]) + 4 + 1 for r in rows)


def serve_ingest(ctx: Ctx) -> None:
    table = ctx.path("table")
    tl = {}

    def prepare():
        seq, _ = derived(ctx, SERVE_AMP)
        tl["t"] = Timeline(local_rows(seq))

    def stage():
        seq, _ = derived(ctx, SERVE_AMP)
        merge.merge_upsert(ctx.spark, table,
                           seq.where(F.col("event_epoch") <= tl["t"].t_load), TABLE_KEYS)

    setup(ctx, "local[4]", stage, prepare)
    timeline = tl["t"]
    pool = local_rows(datagen.probes_df(ctx.spark, ctx.path("base")).select(*PROBE_COLS))
    ctx.phase("client")
    state_rows = timeline.live
    last = {}
    buckets_read = []

    def next_batch() -> pa.Table:
        probes = ctx.rng.sample(pool, LOOKUP_BATCH)
        reps = [ctx.rng.randrange(SERVE_AMP) for _ in probes]
        last["batch"] = arrow_rows([
            (f"{pid}#{r}", f"{doc}#{r}", src, ts)
            for (pid, doc, src, ts), r in zip(probes, reps)
        ], PROBE_SCHEMA)
        return last["batch"]

    def lookup(batch: pa.Table, op_name="op.lookup") -> float:
        """One timed lookup of a batch the client built beforehand."""
        t0 = time.perf_counter()
        with ctx.span(op_name):
            with ctx.span("client.batch"):
                bdf = ctx.spark.createDataFrame(batch)
            with ctx.span("merge.read_current", open=True):
                cur = merge.read_current(ctx.spark, table)
            with ctx.span("features.sequence_features", lazy=True):
                state = sequence_features(cur)
            with ctx.span("serve.asof_answer_batch", lazy=True):
                ans = asof_answer_batch(
                    state, bdf, keys=SERVE_KEYS, payload_cols=list(FEATURE_PAYLOAD)
                )
            with ctx.span("action.collect"):
                got = ans.collect()
        elapsed = time.perf_counter() - t0
        if ctx.tracer.enabled:
            # the bucket directories of the files this lookup's scan read
            buckets_read.append(len({os.path.dirname(f) for f in cur.inputFiles()}))
        leaks = sum(
            1 for r in got
            if r["asof_event_epoch"] is not None and r["asof_event_epoch"] > r["ts_epoch"]
        )
        ctx.tally.check(len(got) == LOOKUP_BATCH, f"lookup: {len(got)} answers")
        ctx.tally.check(leaks == 0, f"lookup: {leaks} answers matched a later state row")
        last["answers"] = got
        return elapsed

    def commit(rows, want, op_name="op.commit") -> tuple[dict, float]:
        """One timed commit of a delta the client built beforehand."""
        delta = arrow_rows(rows, DELTA_SCHEMA)
        t0 = time.perf_counter()
        with ctx.span(op_name):
            with ctx.span("client.delta"):
                ddf = ctx.spark.createDataFrame(delta)
            with ctx.span("merge.merge_upsert"):
                r = merge.merge_upsert(
                    ctx.spark, table, ddf, TABLE_KEYS, delete_col="deleted"
                )
        elapsed = time.perf_counter() - t0
        got = (r["rows_updated"], r["rows_inserted"], r["rows_deleted"])
        ctx.tally.check(got == want, f"commit counts {got}, delta mix {want}")
        ctx.tally.check(r["rows_total"] == timeline.live,
                        f"commit rows_total {r['rows_total']}, client {timeline.live}")
        return r, elapsed

    t_commit, t_lookup, write_ratio, mixes = [], [], [], []

    def cycles(window, min_cycles, t_commit, t_lookup, warmup=False):
        """Closed loop of one commit and LOOKUPS_PER_COMMIT lookups."""
        commit_op, lookup_op = ("warmup",) * 2 if warmup else ("op.commit", "op.lookup")
        t_end = time.perf_counter() + window
        while len(t_commit) < min_cycles or time.perf_counter() < t_end:
            rows, want = timeline.delta()
            r, elapsed = commit(rows, want, commit_op)
            t_commit.append(elapsed)
            if not warmup:
                mixes.append(want)
                written, _ = dir_bytes_files(os.path.join(table, f"v{r['version']}.data"))
                write_ratio.append(written / delta_bytes(rows))
            for _ in range(LOOKUPS_PER_COMMIT):
                t_lookup.append(lookup(next_batch(), lookup_op))

    cycles(0, SERVE_WARMUP_CYCLES, [], [], warmup=True)
    ctx.phase("warmup")

    if ctx.trace:
        cycles(ctx.seconds / 2, 1, [], ctx.untraced_main)
        start_traced(ctx, "local[4]")
        # the first jobs of a new SparkContext run slow
        cycles(0, 1, [], [], warmup=True)
        cycles(ctx.seconds / 2, 1, t_commit, t_lookup)
    else:
        cycles(ctx.seconds, 2, t_commit, t_lookup)
    ctx.tally.attempted += len(t_commit) + len(t_lookup)
    ctx.phase("measure")

    # the last lookup ran after the last commit: it must equal a batch
    # feature backfill over the final snapshot
    bdf = ctx.spark.createDataFrame(last["batch"])
    want = feature_backfill(merge.read_current(ctx.spark, table), bdf).collect()
    canon = lambda rows: sorted(  # noqa: E731
        json.dumps(r.asDict(), sort_keys=True) for r in rows
    )
    ctx.tally.check(canon(last["answers"]) == canon(want),
                    "last lookup differs from a batch backfill of the final snapshot")
    ctx.phase("check")

    ctx.e2e["peak_rss_mb"] = ctx.sess.peak_rss_mb()
    ctx.e2e["main_op_s_p50"] = median(t_lookup)
    ctx.e2e["side_op_s_p50"] = median(t_commit)
    ctx.summary.update({
        "table_rows": state_rows,
        "lookup_s_p50": median(t_lookup),
        "lookup_s_p90": quantile(t_lookup, 0.9),
        "lookups": len(t_lookup),
        "commit_s_p50": median(t_commit),
        "commit_s_p75": quantile(t_commit, 0.75),
        "commits": len(t_commit),
        "commit_mix_updated_inserted_deleted": mixes,
        "lookup_s": t_lookup,
        "commit_s": t_commit,
    })
    if ctx.trace:
        batch_df = lambda: ctx.spark.createDataFrame(last["batch"])  # noqa: E731
        cur = lambda: merge.read_current(ctx.spark, table)  # noqa: E731
        run_ladder(ctx, {
            "derive": lambda: derived(ctx)[0].unionByName(
                derived(ctx)[1], allowMissingColumns=True),
            "scan_state": cur,
            "scan_probes": batch_df,
            "features": lambda: sequence_features(cur()),
            "answer": lambda: asof_answer_batch(
                sequence_features(cur()), batch_df(), keys=SERVE_KEYS,
                payload_cols=list(FEATURE_PAYLOAD)),
        }, ctx.path("probe_sink"))
        ctx.layer["scan.row_groups"] = row_groups(table)
        ctx.layer["merge.bytes_written_per_delta_byte"] = median(write_ratio)
        ctx.layer["merge.buckets_read_per_lookup"] = median(buckets_read)
        ctx.sess.spark.stop()
        layer_metrics(ctx, EventLog(ctx.path("events")), "op.lookup", "op.commit",
                      LOOKUP_BATCH)
        # plans.backfill and the local[1] leg are bypassed by this workload
        for key in ("bulk.scaling_efficiency", "resume.work_share",
                    "backfill.jobs_per_run", "backfill.input_rows_share",
                    "backfill.nonjob_share"):
            ctx.layer[key] = 0


WORKLOADS = {
    "backfill-bulk": backfill_bulk,
    "serve-ingest": serve_ingest,
}

SETTINGS = {
    "driver_memory": DRIVER_MEMORY,
    "off_heap": OFF_HEAP,
    "n_docs": N_DOCS,
    "n_orders": N_ORDERS,
    "bulk_amp": BULK_AMP,
    "serve_amp": SERVE_AMP,
}
