"""The batch pipeline: parse → enrich → route → aggregate (BASELINE.json:6).

Composition of pure DataFrame→DataFrame stages (SURVEY.md §3.1). Physical
shape at scale (the 10^12-turn argument, SURVEY.md §4):

- scan, parse, broadcast-enrich and route-tag are all map-side;
- the single all-to-all exchange is the explicit conv_bucket repartition
  (conv_bucket = pmod(xxhash64(conv_id), N) co-locates whole conversations,
  so the turn-ordering invariant holds identically to conv_id partitioning
  while aligning the shuffle with the sink tables' physical layout);
- the fan-out is SINGLE-PASS: one partitionBy("sink", "conv_bucket") write,
  after which each sink subtree is atomically committed to its own logical
  table. No persist/cache of the wide pass — at 10^12 turns a cache is
  impossible, and at bench scale the cache materialization measured slower
  than simply writing once (the write IS the materialization);
- aggregates are computed from the column-pruned read-back of the files
  just written (counts/rollup touch 3-5 narrow columns, a tiny fraction of
  the bytes) as two lean jobs — the rollup (skew salt = the physical
  conv_bucket partitioning) and a one-column distinct-convs-per-sink pass —
  with the per-sink text counter coming from parquet footers (see step 7);
- routing is config-driven (config.py routes): ordered SQL rules, first
  match wins, catch-all default — sinks derive from cfg.sink_names;
- per-bucket lineage (rows, conv_id min/max) comes from parquet footer
  statistics — no extra scan.

Resume: work unit = conv_bucket; see sources/checkpoint.py for the commit
protocol. Re-running a fully-committed warehouse is a no-op (idempotence).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..metrics import RunMetrics
from ..operators.enrich import enrich
from ..operators.parse import flatten_parsed, with_parsed
from ..operators.route import ordered_by_turn, with_conv_bucket, with_sink
from ..schema import ROLE_DIM_SCHEMA, TOOL_DIM_SCHEMA, TRANSCRIPT_SCHEMA
from ..sources import checkpoint as ckpt
from ..sources.warehouse import ParquetWarehouse


def _run_inheriting(*fns):
    """Run ``fns`` concurrently and return their results in order,
    re-raising the first failure. Each runs on a
    ``pyspark.InheritableThread``, so its jobs carry the caller's job group
    and local properties, and a job description it sets stays on its own
    thread."""
    from pyspark import InheritableThread

    results: list = [None] * len(fns)
    errors: list[BaseException] = []

    def call(i):
        try:
            results[i] = fns[i]()
        except BaseException as e:
            errors.append(e)

    threads = [InheritableThread(target=call, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def build_routed(
    df: DataFrame,
    cfg: PipelineConfig,
    role_dim: DataFrame | None = None,
    tool_dim: DataFrame | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """The logical plan shared by batch, entry() and streaming paths:
    parse → enrich → sink-tag → bucket → conv-ordered. Source-agnostic."""
    parsed = with_parsed(df, cfg.patterns, engine=cfg.parse_engine)
    enriched = enrich(parsed, role_dim, tool_dim)
    tagged = with_conv_bucket(
        with_sink(enriched, routes=cfg.routes, default_sink=cfg.default_sink),
        cfg.n_buckets,
    )
    return ordered_by_turn(tagged, n_partitions or cfg.n_buckets, key="conv_bucket")


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    input_df: DataFrame | None = None,
    role_dim: DataFrame | None = None,
    tool_dim: DataFrame | None = None,
    metrics_path: str | None = None,
) -> RunMetrics:
    """Execute one resumable batch run against the warehouse."""
    t0 = time.time()
    wh = ParquetWarehouse(cfg.warehouse)
    m = RunMetrics(run_id=cfg.run_id)
    stages: dict[str, float] = {}
    _last = [t0]

    def mark(name: str) -> None:
        now = time.time()
        stages[name] = round(now - _last[0], 3)
        _last[0] = now

    # 0. crash recovery: prune data commits that never reached the ledger
    ckpt.reconcile(spark, wh)

    # 1. source + dims
    if input_df is None:
        input_df = wh.read(spark, cfg.input_table, schema=TRANSCRIPT_SCHEMA)
    if role_dim is None:
        role_dim = wh.read(spark, "role_dim", schema=ROLE_DIM_SCHEMA)
    if tool_dim is None:
        tool_dim = wh.read(spark, "tool_dim", schema=TOOL_DIM_SCHEMA)

    # 2. checkpoint filter: only process buckets without a ledger row.
    #    (On Iceberg the input would be bucket-partitioned so this prunes
    #    at the scan; the parquet fallback filters post-scan.)
    todo = ckpt.pending_buckets(spark, wh, cfg.n_buckets)
    if cfg.max_buckets_per_run is not None:
        todo = todo[: cfg.max_buckets_per_run]
    m.buckets = todo
    if not todo:
        m.finish()
        if metrics_path:
            m.write(metrics_path)
        return m
    work = with_conv_bucket(input_df, cfg.n_buckets)
    if len(todo) < cfg.n_buckets:
        work = work.filter(F.col("conv_bucket").isin(todo))

    # 3-6. SHUFFLE FIRST, then parse → enrich → route → order → ONE
    # partitioned write. The exchange moves only the 6 raw input columns
    # (+bucket); parse/enrich/tag run post-exchange in the same stage as
    # the sort and write (measured ~40% faster end-to-end than parsing
    # before the shuffle — same compute, far fewer shuffled bytes).
    # The sort is write-aligned: (sink, conv_bucket) prefix satisfies the
    # dynamic-partition writer's required ordering (so it streams instead
    # of inserting a second full sort), and the (conv_id, turn_idx) suffix
    # GUARANTEES turn order inside every sink data file — the ordering
    # invariant is a physical property of the files, not a read-time sort.
    #
    # r6 partitioning fix (guide §2.5 "synthetic partitioning keys with
    # too few distinct values"): hashing the 32 conv_bucket values into 32
    # partitions left ~14 of them EMPTY and piled 2-3 buckets (plus the
    # zipfian-hot conversation) onto others — measured 18/32 non-empty,
    # max/median 2.4× at 9.4M rows. The shuffle key now appends a small
    # per-conversation sub-split drawn from an INDEPENDENTLY SEEDED hash
    # (xxhash64(1, conv_id) — deriving it from the same hash as
    # conv_bucket would make it a function of the bucket, pmod(h,S) being
    # determined by pmod(h,32) whenever S divides 32), over S× the
    # partitions: measured 81/128 non-empty, max/median 5.1→2.0, write
    # stage 9.2-9.4s → 5.0-6.7s (same files-per-dir bound S; conversations
    # stay whole inside one task, so the turn-order file invariant is
    # untouched). S adapts to the session's core count (capped at 8 to
    # bound files per (sink, bucket) dir) and is env-overridable for
    # cluster tuning; S=1 reproduces the old layout exactly.
    import math

    env_s = int(os.environ.get("WATCHMAN_BUCKET_SUBSPLITS", "0"))
    sub_splits = env_s or min(
        8, max(1, math.ceil(4 * spark.sparkContext.defaultParallelism / cfg.n_buckets))
    )
    if sub_splits > 1:
        raw = work.repartition(
            cfg.n_buckets * sub_splits,
            "conv_bucket",
            F.pmod(F.xxhash64(F.lit(1), F.col("conv_id")), F.lit(sub_splits)),
        )
    else:
        raw = work.repartition(cfg.n_buckets, "conv_bucket")
    parsed = with_parsed(raw, cfg.patterns, engine=cfg.parse_engine)
    tagged = with_sink(
        enrich(parsed, role_dim, tool_dim),
        routes=cfg.routes,
        default_sink=cfg.default_sink,
    )
    routed = (
        flatten_parsed(tagged)
        .sortWithinPartitions("sink", "conv_bucket", "conv_id", "turn_idx")
        .withColumn("dt", F.to_date("ts"))
        .withColumn("run_id", F.lit(cfg.run_id))
    )
    staging = os.path.join(cfg.warehouse, "_staging", uuid.uuid4().hex)
    mark("plan_setup")
    # staging cleanup is unconditional: on failure the leftover tree is
    # garbage (committed subtrees were already MOVED out; aggregate
    # commits without a ledger row are rolled back by reconcile on the
    # next run) — a retry recomputes the pending buckets from scratch
    try:
        routed.write.partitionBy("sink", "conv_bucket").parquet(staging)
        mark("write")

        # lineage AND the per-sink text counter from parquet footers — no
        # extra scan (n_text per fragment = rows - null_count(text), exact)
        frag_stats = wh.dir_stats(staging, stat_col="conv_id", notnull_col="text")
        sink_rows: dict[str, int] = dict.fromkeys(cfg.sink_names, 0)
        sink_n_text: dict[str, int] = {}
        bucket_stats: dict[int, dict] = {}
        for fs in frag_stats:
            parts = dict(
                p.split("=", 1) for p in fs["path"].split(os.sep) if "=" in p
            )
            sink = parts.get("sink")
            bucket = int(parts.get("conv_bucket", -1))
            sink_rows[sink] = sink_rows.get(sink, 0) + fs["rows"]
            sink_n_text[sink] = sink_n_text.get(sink, 0) + (fs["notnull"] or 0)
            b = bucket_stats.setdefault(bucket, {"rows": 0, "min": None, "max": None})
            b["rows"] += fs["rows"]
            if fs["min"] is not None:
                b["min"] = fs["min"] if b["min"] is None else min(b["min"], fs["min"])
                b["max"] = fs["max"] if b["max"] is None else max(b["max"], fs["max"])

        mark("footer_stats")
        lineage = {"run_id": cfg.run_id, "buckets": todo}
        m.rows_per_sink = {s: sink_rows.get(s, 0) for s in cfg.sink_names}
        m.rows_in = sum(m.rows_per_sink.values())

        # 7. aggregates from the column-pruned read-back of the STAGED tree.
        #    Two INDEPENDENT lean jobs (round-3 rewrite — the previous shape
        #    persisted a ~5M-row shared partial and ran countDistinct over
        #    it; the persist concentrated on one JVM at small cluster sizes
        #    and made this phase the noisiest, worst-scaling stage of the
        #    run, 5.7-22s at identical input on the scaling cluster):
        #    (a) the conv/role/tool rollup — one scan of 5 data columns, one
        #        partial-agg exchange, write. Map-side combine on the
        #        conv_bucket-partitioned tree (whole conversations
        #        co-located) is the skew defense: even the hottest
        #        conversation collapses to one partial row per (role, tool)
        #        per partition before the exchange. An explicit salt here
        #        measured 16x the stage-1 shuffle volume and zero
        #        core-scaling at 18.7M turns — salted_agg remains the
        #        operator for inputs NOT already key-partitioned.
        #    (b) distinct conversations per sink — 'sink' is a hive
        #        partition column, so this scans ONE data column (conv_id);
        #        map-side partial distinct bounds the exchange at
        #        ~n_convs x n_sinks rows.
        #    The per-sink text counter (parse_miss) now comes from the
        #    parquet footers above — it costs nothing here.
        if m.rows_in > 0:
            agg_in = spark.read.schema(routed.schema).parquet(staging)
            # a registry without the latency/error groups still gets the
            # rollup's columns, typed as the default registry types them
            have = set(agg_in.columns)
            sum_latency = (
                F.sum("latency_ms") if "latency_ms" in have else F.lit(None).cast("bigint")
            )
            max_err = F.max("err_ms") if "err_ms" in have else F.lit(None).cast("int")

            # (a) and (b) are independent — (b) collects, (a) writes a
            # different table — so they run on two threads and (b)'s tasks
            # back-fill executors freed by (a)'s tail instead of
            # serializing two lean jobs' scheduling and straggler tails.
            def _job_a():
                spark.sparkContext.setJobDescription("pipeline: rollup write")
                wh.write_append(
                    agg_in.groupBy("conv_id", "role", "tool").agg(
                        F.count(F.lit(1)).alias("n"),
                        sum_latency.alias("sum_latency_ms"),
                        max_err.alias("max_err_ms"),
                    ),
                    "agg_conv_role_tool",
                    lineage=lineage,
                )

            def _job_b():
                spark.sparkContext.setJobDescription("pipeline: distinct convs")
                return {
                    r["sink"]: r["dc"]
                    for r in agg_in.select("sink", "conv_id")
                    .distinct()
                    .groupBy("sink")
                    .agg(F.count(F.lit(1)).alias("dc"))
                    .collect()
                }

            _, dc = _run_inheriting(_job_a, _job_b)
            m.parse_miss = sink_n_text.get(cfg.default_sink, 0)
            counts_tbl = pa.table(
                {
                    "sink": pa.array(list(dc), pa.string()),
                    "n": pa.array([sink_rows[s] for s in dc], pa.int64()),
                    "distinct_convs": pa.array([dc[s] for s in dc], pa.int64()),
                }
            )
            wh.write_append_arrow("agg_sink_counts", counts_tbl, lineage=lineage)
            mark("aggs_shared_partial")

        # 8. atomic per-sink commits of the staged subtrees (the data was
        #    written exactly once; committing is a rename)
        for sink in cfg.sink_names:
            subdir = os.path.join(staging, f"sink={sink}")
            if os.path.isdir(subdir):
                wh.commit_existing(
                    f"sink_{sink}",
                    subdir,
                    rows=sink_rows.get(sink, 0),
                    partition_by=["conv_bucket"],
                    lineage=lineage,
                )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    mark("commits")

    # 9. ledger LAST — the transaction commit point (driver-side Arrow
    #    rows: one per bucket, derived from footer stats — no Spark job)
    wall_ms = int((time.time() - t0) * 1000)
    wh.write_append_arrow(
        ckpt.LEDGER_TABLE, ckpt.ledger_arrow(cfg.run_id, bucket_stats, todo, wall_ms)
    )

    mark("ledger")
    m.stages = stages
    m.finish()
    if metrics_path:
        m.write(metrics_path)
    return m


def read_sink_counts(spark: SparkSession, wh: ParquetWarehouse) -> DataFrame:
    """Final per-sink totals: re-aggregate the per-run partial counts."""
    parts = wh.read(spark, "agg_sink_counts")
    return parts.groupBy("sink").agg(F.sum("n").alias("n"))
