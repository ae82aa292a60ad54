"""The workloads, their operations and the checks on their outputs.

An operation is one unit the benchmark times and checks: one
``run_pipeline`` call (parse_wide) or one open-loop window of
``route_stream`` (tail_stream, where each dropped file is checked on its
own). The program is reached only through its public functions; every
check runs outside the timed regions. A traced run of either workload
also makes one operation of the other kind on its own input, so every
layer is measured on both.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from watchman_spark.config import (
    DEFAULT_PATTERNS,
    DEFAULT_ROUTES,
    DEFAULT_SINK,
    PipelineConfig,
    load_config,
)
from watchman_spark.operators.enrich import enrich
from watchman_spark.operators.invariants import (
    routed_row_equality,
    sinks_disjoint,
    text_equality_audit,
)
from watchman_spark.operators.parse import flatten_parsed, with_parsed
from watchman_spark.operators.route import with_conv_bucket, with_sink
from watchman_spark.plans.pipeline import run_pipeline
from watchman_spark.schema import TRANSCRIPT_SCHEMA
from watchman_spark.sources import checkpoint as ckpt
from watchman_spark.sources.warehouse import ParquetWarehouse
from watchman_spark.streaming.stream import read_transcript_stream, route_stream
from watchman_spark.synth import role_dim, tool_dim

from . import host, inputs
from .trace import Tracer, median

STAGES = {  # RunMetrics.stages key -> per-layer metric
    "plan_setup": "pipeline.plan_setup_s",
    "write": "pipeline.write_s",
    "footer_stats": "pipeline.footer_stats_s",
    "aggs_shared_partial": "pipeline.aggs_s",
    "commits": "pipeline.commits_s",
    "ledger": "pipeline.ledger_s",
}


@dataclass
class Op:
    """One timed operation and what its check found."""

    wall_s: float
    turns: int
    fresh_s: list[float]  # input handed over -> visible in sinks, per conversation
    attempted: int
    failed: int
    sink_bytes: int
    window: tuple[float, float]  # epoch seconds, for event-log attribution
    layers: dict[str, float] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)


def _epoch_s(iso: str) -> float:
    """A progress event's ISO-8601 UTC timestamp in epoch seconds."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


# -- checks -----------------------------------------------------------------
def sink_rows(wh: ParquetWarehouse, sinks, lineage: dict | None = None) -> dict[str, int]:
    """Rows per sink counted from the parquet footers of the committed
    files themselves (a lost data file shows), optionally only commits
    whose lineage contains ``lineage``."""
    out = {}
    for s in sinks:
        n = 0
        for c in wh.commits(f"sink_{s}"):
            if lineage and any(c.get("lineage", {}).get(k) != v for k, v in lineage.items()):
                continue
            n += sum(fs["rows"] for fs in ParquetWarehouse.dir_stats(os.path.join(wh.root, c["data_dir"])))
        out[s] = n
    return out


def sink_bytes(wh: ParquetWarehouse, sinks) -> int:
    total = 0
    for s in sinks:
        for c in wh.commits(f"sink_{s}"):
            for base, _dirs, names in os.walk(os.path.join(wh.root, c["data_dir"])):
                total += sum(os.path.getsize(os.path.join(base, n)) for n in names if n.endswith(".parquet"))
    return total


def agg_sink_counts(wh: ParquetWarehouse) -> dict[str, int]:
    t = wh.read_arrow("agg_sink_counts")
    out: dict[str, int] = {}
    if t is not None:
        for s, n in zip(t.column("sink").to_pylist(), t.column("n").to_pylist()):
            out[s] = out.get(s, 0) + n
    return out


def check_counts(wh: ParquetWarehouse, sinks, truth: dict[str, int]) -> list[str]:
    """Per-sink rows in the files and in ``agg_sink_counts`` against the
    ground truth. Sinks with no truth entry must be empty."""
    want = {s: truth.get(s, 0) for s in sinks}
    problems = []
    got = sink_rows(wh, sinks)
    if got != want:
        problems.append(f"sink rows {got} != truth {want}")
    aggs = {s: n for s, n in agg_sink_counts(wh).items() if n}
    if aggs != {s: n for s, n in want.items() if n}:
        problems.append(f"agg_sink_counts {aggs} != truth {want}")
    return problems


def warehouse_counts(wh: ParquetWarehouse, sinks) -> dict[str, float]:
    """Committed sink data files and commits over all tables."""
    files = sum(
        sum(1 for _b, _d, names in os.walk(os.path.join(wh.root, c["data_dir"])) for n in names if n.endswith(".parquet"))
        for s in sinks
        for c in wh.commits(f"sink_{s}")
    )
    return {"warehouse.data_files": float(files),
            "warehouse.commits": float(sum(len(wh.commits(t)) for t in wh.tables()))}


def failed_frac(ops: list[Op]) -> float:
    attempted = sum(o.attempted for o in ops)
    return sum(o.failed for o in ops) / attempted if attempted else 1.0


def n_buckets() -> int:
    """Two conversation buckets per core. ``PipelineConfig``'s default of
    32 is sized for a 32-core host; here it would leave each task a few
    hundred rows and make the per-file cost of the partitioned write,
    not the layers under test, the bulk of every run."""
    return 2 * host.nproc()


# -- shared plumbing --------------------------------------------------------
@dataclass
class Ctx:
    """What one benchmark run shares across its operations."""

    work: str
    seed: int
    seconds: float
    tracer: Tracer
    spark: SparkSession | None = None
    rd: object = None
    td: object = None
    n: int = 0  # operations started, names fresh directories

    def fresh_dir(self, kind: str) -> str:
        self.n += 1
        d = os.path.join(self.work, "run", f"{kind}-{self.n}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


def load_input(wh: ParquetWarehouse, inp: inputs.InputSet) -> None:
    """Commit the cached input files (hard links, nothing copied) as the
    warehouse's ``transcripts`` table."""
    stage = os.path.join(wh.root, "_load")
    os.makedirs(stage)
    for f in inp.files:
        os.link(f, os.path.join(stage, os.path.basename(f)))
    wh.commit_existing("transcripts", stage, rows=inp.turns)


def sub_splits(spark: SparkSession, n_buckets: int) -> int:
    """The shuffle-key sub-split ``run_pipeline`` derives from the session
    (run.py clears its environment override)."""
    return min(8, max(1, math.ceil(4 * spark.sparkContext.defaultParallelism / n_buckets)))


def ladder(ctx: Ctx, wh: ParquetWarehouse, cfg: PipelineConfig) -> dict[str, float]:
    """One round of cumulative prefixes of the pipeline's write-stage
    plan, each run to a noop sink except the last, which is the
    partitioned parquet write. Every rung is built afresh outside its
    timer, as ``run_pipeline`` builds its plan before its write stage, so
    each timed write pays its own optimisation and code generation.
    Returns the wall of each rung."""
    spark = ctx.spark

    def build(rung: int):
        src = with_conv_bucket(wh.read(spark, cfg.input_table, schema=TRANSCRIPT_SCHEMA), cfg.n_buckets)
        s = sub_splits(spark, cfg.n_buckets)
        if s > 1:
            df = src.repartition(cfg.n_buckets * s, "conv_bucket", F.pmod(F.xxhash64(F.lit(1), F.col("conv_id")), F.lit(s)))
        else:
            df = src.repartition(cfg.n_buckets, "conv_bucket")
        if rung >= 2:
            df = with_parsed(df, cfg.patterns, engine=cfg.parse_engine)
        if rung >= 3:
            df = with_sink(enrich(df, ctx.rd, ctx.td), routes=cfg.routes, default_sink=cfg.default_sink)
        if rung >= 2:  # flattened, as the pipeline's plan never builds the struct
            df = flatten_parsed(df)
        if rung >= 4:
            df = (
                df.sortWithinPartitions("sink", "conv_bucket", "conv_id", "turn_idx")
                .withColumn("dt", F.to_date("ts"))
                .withColumn("run_id", F.lit(cfg.run_id))
            )
        return df

    out = os.path.join(wh.root, "_ladder")
    times = {}
    for rung in range(1, 6):
        df = build(rung)
        host.quiesce(spark)  # as before every timed operation
        with ctx.tracer.span(f"ladder.rung{rung}"):
            t0 = time.perf_counter()
            if rung < 5:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.write.partitionBy("sink", "conv_bucket").parquet(out)
            times[f"ladder.rung{rung}_s"] = time.perf_counter() - t0
    shutil.rmtree(out)
    return times


def ladder_layers(ops: list[Op]) -> dict[str, float]:
    """Per-layer self times from the median rung walls of ``ops``: each
    rung minus the one below it, and the top rung's share of the
    pipeline's write stage."""
    r = [median([o.layers[f"ladder.rung{i}_s"] for o in ops]) for i in range(1, 6)]
    return {
        "route.exchange_s": r[0],
        "parse.self_s": r[1] - r[0],
        "enrich.self_s": r[2] - r[1],
        "route.sort_s": r[3] - r[2],
        "warehouse.write_s": r[4] - r[3],
        "ladder.coverage": r[4] / median([o.layers["pipeline.write_s"] for o in ops]),
    }


def match_frac(ctx: Ctx, wh: ParquetWarehouse, cfg: PipelineConfig) -> float:
    """Rows with any grok match over all rows of the input."""
    parsed = with_parsed(wh.read(ctx.spark, cfg.input_table, schema=TRANSCRIPT_SCHEMA), cfg.patterns, engine=cfg.parse_engine)
    names = parsed.schema["parsed"].dataType.fieldNames()
    hit = F.lit(False)
    for n in names:
        hit = hit | F.col(f"parsed.{n}").isNotNull()
    row = parsed.agg(F.sum(hit.cast("long")).alias("m"), F.count(F.lit(1)).alias("n")).collect()[0]
    return row["m"] / row["n"]


def audits(ctx: Ctx, wh: ParquetWarehouse) -> list[str]:
    """The full row- and text-equality audits of the program's invariants."""
    problems = []
    with ctx.tracer.span("audit.routed_row_equality"):
        rr = routed_row_equality(ctx.spark, wh)
    if rr != {"missing_from_sinks": 0, "extra_in_sinks": 0}:
        problems.append(f"routed_row_equality {rr}")
    with ctx.tracer.span("audit.text_equality"):
        te = text_equality_audit(ctx.spark, wh)
    if te != {"missing": 0, "extra": 0, "mismatched": 0}:
        problems.append(f"text_equality_audit {te}")
    return problems


# -- operations -------------------------------------------------------------
def pipeline_run(ctx: Ctx, inp: inputs.InputSet, cfg: PipelineConfig, keep: bool = False) -> Op:
    """One ``run_pipeline`` into the fresh warehouse ``cfg.warehouse``,
    loaded with ``inp``. When tracing, one ladder round follows on the
    same warehouse, in the same JIT state as the run it attributes."""
    wh = ParquetWarehouse(cfg.warehouse)
    load_input(wh, inp)
    ctx.spark.catalog.clearCache()
    layers = {}
    with ctx.tracer.span("checkpoint.reconcile"):
        t0 = time.perf_counter()
        ckpt.reconcile(ctx.spark, wh)
        layers["checkpoint.reconcile_s"] = time.perf_counter() - t0
    with ctx.tracer.span("checkpoint.pending"):
        t0 = time.perf_counter()
        ckpt.pending_buckets(ctx.spark, wh, cfg.n_buckets)
        layers["checkpoint.pending_s"] = time.perf_counter() - t0
    w0 = time.time()
    with ctx.tracer.span("plans.pipeline.run_pipeline"):
        t0 = time.perf_counter()
        m = run_pipeline(ctx.spark, cfg, role_dim=ctx.rd, tool_dim=ctx.td)
        wall = time.perf_counter() - t0
    w1 = time.time()
    layers.update({STAGES[k]: v for k, v in m.stages.items() if k in STAGES})
    layers.update(warehouse_counts(wh, cfg.sink_names))
    problems = check_counts(wh, cfg.sink_names, inp.per_sink)
    if m.rows_per_sink != {s: inp.per_sink.get(s, 0) for s in cfg.sink_names}:
        problems.append(f"RunMetrics.rows_per_sink {m.rows_per_sink}")
    op = Op(wall, m.rows_in, [wall] * inp.convs, 1, int(bool(problems)),
            sink_bytes(wh, cfg.sink_names), (w0, w1), layers, problems)
    if ctx.tracer.enabled:
        op.layers.update(ladder(ctx, wh, cfg))
    if not keep:
        shutil.rmtree(cfg.warehouse)
    return op


def _drop_files(files: list[str], src: str, t0: float, due: list[float], actual: list[float]) -> None:
    """The load generator: each file written under a hidden name, then
    renamed into the watched directory at its due time."""
    for i, f in enumerate(files):
        pause = t0 + due[i] - time.time()
        if pause > 0:
            time.sleep(pause)
        name = f"part-{i:05d}.parquet"
        tmp = os.path.join(src, f".{name}.tmp")  # hidden from the file source
        shutil.copyfile(f, tmp)
        os.rename(tmp, os.path.join(src, name))
        actual.append(time.time() - t0)


def stream_window(ctx: Ctx, inp: inputs.InputSet, cfg: PipelineConfig, interval: float) -> Op:
    """``route_stream`` over ``inp``'s files dropped one every
    ``interval`` seconds into an empty watched directory beside
    ``cfg.warehouse``; ends once every dropped file is processed. Each
    file is checked on its own."""
    d = os.path.dirname(cfg.warehouse)
    src, ck = os.path.join(d, "src"), os.path.join(d, "ck")
    os.makedirs(src)
    ctx.spark.catalog.clearCache()
    with ctx.tracer.span("streaming.stream.route_stream.start"):
        q = route_stream(ctx.spark, read_transcript_stream(ctx.spark, src), cfg, ctx.rd, ctx.td,
                         checkpoint_dir=ck)
    due = [i * interval for i in range(len(inp.files))]
    actual: list[float] = []
    t0 = time.time()
    gen = threading.Thread(target=_drop_files, args=(inp.files, src, t0, due, actual), name="load-gen")
    with ctx.tracer.span("streaming.stream.route_stream"):
        gen.start()
        gen.join()
        q.processAllAvailable()
    q.stop()
    w1 = time.time()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    wh = ParquetWarehouse(cfg.warehouse)

    # file -> epoch from the file source's own log; epoch -> the time
    # its last sink commit became visible
    epoch_of = {}
    log_dir = os.path.join(ck, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                epoch_of[os.path.basename(e["path"])] = e["batchId"]
    visible: dict[int, float] = {}
    for s in cfg.sink_names:
        for c in wh.commits(f"sink_{s}"):
            ep = c["lineage"]["epoch"]
            visible[ep] = max(visible.get(ep, 0.0), c["ts"])
    names = [f"part-{i:05d}.parquet" for i in range(len(inp.files))]
    epochs: dict[int, list[int]] = {}
    for i, nm in enumerate(names):
        if nm in epoch_of:
            epochs.setdefault(epoch_of[nm], []).append(i)
    bad_files = {i for i, nm in enumerate(names) if epoch_of.get(nm) not in visible}
    problems = [f"{len(bad_files)} files never committed"] if bad_files else []
    for ep, files in epochs.items():
        want = {s: sum(inp.file_sinks[i].get(s, 0) for i in files) for s in cfg.sink_names}
        got = sink_rows(wh, cfg.sink_names, {"epoch": ep})
        if got != want:
            bad_files.update(files)
            problems.append(f"epoch {ep}: sink rows {got} != {want}")
    with ctx.tracer.span("audit.sinks_disjoint"):
        disjoint = sinks_disjoint(ctx.spark, wh)
    if not disjoint:
        bad_files = set(range(len(names)))
        problems.append("a (conv_id, turn_idx) key is in two sinks")
    total = sink_rows(wh, cfg.sink_names)
    if total != {s: inp.per_sink.get(s, 0) for s in cfg.sink_names}:
        bad_files = set(range(len(names)))
        problems.append(f"sink rows {total} != truth {inp.per_sink}")

    fresh = [
        visible[epoch_of[nm]] - (t0 + due[i])
        for i, nm in enumerate(names)
        if i not in bad_files
        for _ in range(inp.file_convs[i])
    ]
    busy = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in progress]
    start_of = {p["batchId"]: _epoch_s(p["timestamp"]) for p in progress}
    consumed, backlog = 0, []
    for e in sorted(epochs):  # files waiting when each epoch started
        if e in start_of:
            backlog.append(sum(1 for a in actual if t0 + a <= start_of[e]) - consumed)
        consumed += len(epochs[e])
    state = [p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")]
    layers = {
        "stream.epochs": float(len(progress)),
        "stream.epoch_p50_s": median(busy),
        "stream.add_batch_p50_s": median(add),
        "stream.overhead_p50_s": median([b - a for b, a in zip(busy, add)]),
        "stream.state_rows": float(state[-1]) if state else 0.0,
        "stream.backlog_files_max": float(max(backlog, default=0)),
        "gen.late_max_s": max(a - u for a, u in zip(actual, due)),
        **warehouse_counts(wh, cfg.sink_names),
    }
    return Op(sum(busy), sum(total.values()), fresh, len(names), len(bad_files),
              sink_bytes(wh, cfg.sink_names), (t0, w1), layers, problems)


# -- workloads --------------------------------------------------------------
STREAM_LAYERS = ("stream.", "gen.")
PIPELINE_LAYERS = ("pipeline.", "checkpoint.", "ladder.")


class Workload:
    name = ""
    patterns, routes, default_sink = DEFAULT_PATTERNS, DEFAULT_ROUTES, DEFAULT_SINK

    def prepare(self, ctx: Ctx) -> float:
        """Generate or load the cached inputs; returns generation seconds."""
        raise NotImplementedError

    def load_dims(self, ctx: Ctx) -> None:
        ctx.rd, ctx.td = role_dim(ctx.spark), tool_dim(ctx.spark)

    def config(self, root: str, run_id: str) -> PipelineConfig:
        return PipelineConfig(warehouse=root, run_id=run_id, n_buckets=n_buckets(), patterns=self.patterns,
                              routes=self.routes, default_sink=self.default_sink)

    def warm(self, ctx: Ctx) -> None:
        """One untimed operation, part of set-up."""
        raise NotImplementedError

    def n_ops(self, seconds: float) -> int:
        """Timed operations in an untraced run of ``seconds``."""
        return 1

    def op(self, ctx: Ctx, keep: bool) -> Op:
        raise NotImplementedError

    def traced_extras(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        """Per-layer figures beyond the traced operations: the audits of
        the last one's warehouse, the match fraction, and one operation
        of the other kind on this workload's input."""
        raise NotImplementedError


class ParseWide(Workload):
    """One full ``run_pipeline`` into a fresh warehouse, over the wide
    corpus, with the registry and routes loaded by ``config.load_config``."""

    name = "parse_wide"

    def prepare(self, ctx: Ctx) -> float:
        self.inp = inputs.wide_corpus(ctx.work, ctx.seed)
        self.config_path = inputs.write_wide_config(ctx.work)
        return self.inp.gen_s

    def load_dims(self, ctx: Ctx) -> None:
        super().load_dims(ctx)
        self.patterns, self.routes, self.default_sink = load_config(self.config_path)

    def warm(self, ctx: Ctx) -> None:
        """One full run: the JIT needs a full run's rows before the
        parse code reaches its steady speed."""
        op = pipeline_run(ctx, self.inp, self.config(ctx.fresh_dir("warm"), "warm"))
        if op.problems:
            raise RuntimeError(f"warm-up run failed its check: {op.problems}")

    def n_ops(self, seconds: float) -> int:
        """A count fixed by ``seconds``, about one run per 5 s (a warm
        run's wall on a 4-core host) and never fewer than four. Runs still
        get faster from one to the next, so a count that followed the
        host's speed would move the medians with it."""
        return max(4, round(seconds / 5))

    def op(self, ctx: Ctx, keep: bool) -> Op:
        root = ctx.fresh_dir(self.name)
        self.last_cfg = self.config(root, f"run-{ctx.n}")
        return pipeline_run(ctx, self.inp, self.last_cfg, keep)

    def traced_extras(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        wh, last = ParquetWarehouse(self.last_cfg.warehouse), ops[-1]
        out = ladder_layers(ops)
        out["parse.match_frac"] = match_frac(ctx, wh, self.last_cfg)
        last.problems += audits(ctx, wh)
        d = ctx.fresh_dir("side-stream")
        side = stream_window(ctx, inputs.head(self.inp, 3), self.config(os.path.join(d, "wh"), "side"),
                             inputs.STREAM["interval_s"])
        out.update({k: v for k, v in side.layers.items() if k.startswith(STREAM_LAYERS)})
        shutil.rmtree(d)
        last.problems += side.problems
        last.failed = int(bool(last.problems))
        return out


class TailStream(Workload):
    """An open loop: one generator thread drops small transcript files
    into a watched directory on a fixed schedule, and ``route_stream``
    consumes them with its default settings."""

    name = "tail_stream"

    def prepare(self, ctx: Ctx) -> float:
        self.interval = inputs.STREAM["interval_s"]
        self.inp = inputs.stream_files(ctx.work, ctx.seed, math.ceil(ctx.seconds / self.interval))
        return self.inp.gen_s

    def warm(self, ctx: Ctx) -> None:
        """The same stream over two files, one epoch each: the second
        epoch also reads the dedup state the first one committed."""
        d = ctx.fresh_dir("stream-warm")
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, f in enumerate(self.inp.files[-2:]):
            shutil.copyfile(f, os.path.join(src, f"part-{i}.parquet"))
        cfg = self.config(os.path.join(d, "wh"), "warm")
        stream = read_transcript_stream(ctx.spark, src, max_files_per_trigger=1)
        q = route_stream(ctx.spark, stream, cfg, ctx.rd, ctx.td,
                         checkpoint_dir=os.path.join(d, "ck"), trigger_once=True)
        q.awaitTermination()
        shutil.rmtree(d)

    def op(self, ctx: Ctx, keep: bool) -> Op:
        d = ctx.fresh_dir(self.name)
        self.last_cfg = self.config(os.path.join(d, "wh"), f"stream-{ctx.n}")
        op = stream_window(ctx, self.inp, self.last_cfg, self.interval)
        if not keep:
            shutil.rmtree(d)
        return op

    def traced_extras(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        wh, last = ParquetWarehouse(self.last_cfg.warehouse), ops[-1]
        load_input(wh, self.inp)
        last.problems += audits(ctx, wh)
        out = {"parse.match_frac": match_frac(ctx, wh, self.last_cfg)}
        side = pipeline_run(ctx, self.inp, self.config(ctx.fresh_dir("side-pipeline"), "side"))
        out.update({k: v for k, v in side.layers.items() if k.startswith(PIPELINE_LAYERS)})
        out.update(ladder_layers([side]))
        last.problems += side.problems
        if last.problems:
            last.failed = last.attempted
        return out


WORKLOADS = {w.name: w for w in (ParseWide, TailStream)}
