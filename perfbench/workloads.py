"""The three workloads: set-up, measured loop and answer check.

Each workload has the same three steps, driven by ``run.py``:

* ``setup(ctx)``: everything a fresh user session pays before its first
  operation (session, catalog, inputs, mirror, warm-up). Timed per round.
* ``measure(ctx, seconds)``: the closed loop, one client; returns one
  latency sample per operation (a query, or a stream tick).
* ``check(ctx)``: answers against an independent computation, outside
  the timed region; returns the number of operations that were wrong.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import gen

# Headline queries split by where their time goes (README.md). Spark
# execution dominates the first list; construction (materialize /
# session_cached builds inside fn()) dominates the second.
RELATIONAL_MIX = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q21_waiting_suppliers",
    "join_inner_star",
    "join_asof",
    "join_bloom_prefilter",
    "join_interval_overlap",
    "agg_multi_key",
    "agg_rollup",
    "agg_bitmap_distinct",
    "agg_countmin_sketch",
    "window_running_sum",
    "window_topk_per_group",
    "ref_grouped_summary",
    "ts_sessionize_batch",
    "events_rfm_segments",
    "privacy_k_anonymity",
]
PIPELINE_SESSION = [
    "dedup_minhash_pairs",
    "dedup_lsh_tuning",
    "sim_bruteforce_topk",
    "graph_pagerank",
    "graph_random_walks",
    "text_bpe_train_rounds",
    "curation_bigram_lm_heldout",
    "kmeans_lloyd_refine",
]
TICK_BATCH = 1000  # JSON lines landed per stream tick


class Ctx:
    """Per-run state shared by set-up, measurement and check."""

    def __init__(self, workload: str, seed: int, work: str, tracer=None):
        self.workload, self.seed, self.work, self.tracer = workload, seed, work, tracer
        self.spark = None
        self.catalog = None
        self.data_dir = None
        self.samples: list[dict] = []  # one per measured operation
        self.failed = 0
        self.raised = 0  # measured operations that raised
        self.errors: list[str] = []
        self.setup_rounds: list[dict] = []
        self.results: dict = {}  # query -> its first pass's answer
        self.stream = None  # stream_ticks: the measured Stream
        self.tick_results: list[tuple] = []  # (tick, records sent, summary rows)
        self.store_stats: dict[str, float] = {}

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, **attrs)


def stop_spark(ctx: Ctx) -> None:
    """End the session (the JVM stays) so the next set-up round starts a
    new one, with an empty session cache."""
    _clear_session_cache()
    ctx.spark.stop()
    ctx.spark = None


def _session(ctx: Ctx, phases: dict) -> None:
    from big_data_final_project_spark import registry, session

    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    t0 = time.perf_counter()
    ctx.spark = session.get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # Initial heap = max heap: a heap grown on demand made the
            # driver's peak RSS swing 1.1-1.6 GB between identical runs.
            "spark.driver.extraJavaOptions": f"-Xms{heap}",
        },
    )
    t1 = time.perf_counter()
    ctx.catalog = registry.catalog()
    phases["get_spark_s"] = t1 - t0
    phases["catalog_s"] = time.perf_counter() - t1


def _arrow_warmup(spark) -> None:
    spark.range(64, numPartitions=spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()


# --- query workloads ------------------------------------------------------


def query_names(workload: str) -> list[str]:
    return RELATIONAL_MIX if workload == "relational_mix" else PIPELINE_SESSION


def setup_queries(ctx: Ctx, rnd: int) -> dict:
    """Inputs, session, catalog, mirror build and warm-up for one round."""
    from big_data_final_project_spark import data

    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    data_dir = os.path.join(ctx.work, f"data{rnd}")
    gen.write_tables(data_dir, ctx.seed)
    # session.py sizes the shuffle-partition hint from this directory.
    os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
    phases["gen_s"] = time.perf_counter() - t0
    _session(ctx, phases)
    t1 = time.perf_counter()
    with ctx.span("data.mirror_build"):
        for name in data.TABLES:
            data.load_table(ctx.spark, data_dir, name)
    t2 = time.perf_counter()
    _arrow_warmup(ctx.spark)
    phases["mirror_build_s"] = t2 - t1
    phases["warmup_s"] = time.perf_counter() - t2
    if ctx.data_dir and ctx.data_dir != data_dir:
        shutil.rmtree(ctx.data_dir, ignore_errors=True)
    ctx.data_dir = data_dir
    return phases


def _clear_session_cache() -> None:
    from big_data_final_project_spark.operators import scale

    for df in scale._SESSION_CACHE.values():
        df.unpersist(blocking=True)
    scale._SESSION_CACHE.clear()


def measure_queries(ctx: Ctx, seconds: float) -> None:
    """Whole passes over the workload's list, in its fixed order: one,
    and more while ``seconds`` have not yet run out.
    ``pipeline_session`` starts every pass from an empty session cache and
    keeps it within the pass, so each shared build is paid once per pass."""
    from spans import action_metrics, last_execution_id

    spark, sf = ctx.spark, ctx.data_dir
    start = time.perf_counter()
    done = 0
    while done == 0 or time.perf_counter() - start < seconds:
        if ctx.workload == "pipeline_session":
            _clear_session_cache()
        for name in query_names(ctx.workload):
            fn = ctx.catalog[name].fn
            sample = {"op": name, "pass": done}
            t0 = time.perf_counter()
            try:
                with ctx.span("query.fn", query=name):
                    df = fn(spark, sf)
                t1 = time.perf_counter()
                before = (
                    ctx.tracer.timed(lambda: last_execution_id(spark))
                    if ctx.tracer
                    else None
                )
                with ctx.span("exec.action", query=name) as idx:
                    got = df.toPandas()
                t2 = time.perf_counter()
                if done == 0:
                    ctx.results[name] = got
                if ctx.tracer:
                    ctx.tracer.spans[idx].update(
                        ctx.tracer.timed(lambda: action_metrics(spark, before))
                    )
            except Exception as exc:  # a failing query is counted, not fatal
                ctx.failed += 1
                ctx.raised += 1
                ctx.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            sample.update(latency_s=t2 - t0, construct_s=t1 - t0, action_s=t2 - t1)
            ctx.samples.append(sample)
        done += 1


def check_queries(ctx: Ctx) -> int:
    """First-pass answers against the DuckDB oracle over the generated
    directory (the comparison tests/oracle_utils.py makes)."""
    from tests.oracle_utils import compare_frames, duck_connection

    bad = 0
    con = duck_connection(ctx.data_dir)
    try:
        for name, got in ctx.results.items():
            oracle = ctx.catalog[name].oracle
            if oracle is None:
                continue  # rows-only query: it ran, nothing to compare
            problems = compare_frames(got, con.execute(oracle).fetchdf())
            if problems:
                bad += 1
                ctx.errors.append(f"{name}: wrong answer: {problems[0]}"[:300])
    finally:
        con.close()
    return bad


# --- stream ticks -------------------------------------------------------


class Stream:
    """One store: staging (the topic), store, latest view, quarantine."""

    def __init__(self, root: str):
        self.root = root
        self.staging = os.path.join(root, "staging")
        self.store = os.path.join(root, "store")
        self.view = os.path.join(root, "latest_view")
        self.quarantine = os.path.join(root, "quarantine")
        self.ckpt = os.path.join(root, "checkpoints")
        os.makedirs(self.staging, exist_ok=True)
        self.history: list[dict] = []
        self.malformed = 0
        self.input_bytes = 0

    def land(self, seed: int, tick: int) -> None:
        t = gen.tick_lines(seed, tick, TICK_BATCH, self.history)
        self.malformed += t.malformed
        body = ("\n".join(t.lines) + "\n").encode()
        self.input_bytes += len(body)
        tmp = os.path.join(self.root, f".tick-{tick:05d}.json")
        with open(tmp, "wb") as fh:
            fh.write(body)
        os.rename(tmp, os.path.join(self.staging, f"tick-{tick:05d}.json"))


HISTORY_WINDOW_MIN = 30


def history_summary(spark, store: str):
    """Historical leg: per-key summary over the last 30 minutes of event
    time (anchored on the store's max ts, as the reference queries are)."""
    from big_data_final_project_spark.functions.numeric import dsum
    from big_data_final_project_spark.streaming import pipeline
    from pyspark.sql import functions as F

    hist = pipeline.read_store(spark, store)
    mx = hist.agg(F.max("ts").alias("mx"))
    return (
        hist.crossJoin(F.broadcast(mx))
        .where(F.col("ts") >= F.col("mx") - F.expr(f"INTERVAL {HISTORY_WINDOW_MIN} MINUTES"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("total_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def run_tick(ctx: Ctx, s: Stream) -> list:
    from big_data_final_project_spark.streaming import pipeline

    spark = ctx.spark
    parsed = pipeline.read_event_stream(spark, s.staging)
    valid, quarantine = pipeline.split_valid(parsed)
    pipeline.persist_stream(valid, s.store, os.path.join(s.ckpt, "persist"))
    with ctx.span("streaming.quarantine_sink"):
        (
            quarantine.writeStream.format("parquet")
            .option("checkpointLocation", os.path.join(s.ckpt, "quarantine"))
            .trigger(availableNow=True)
            .start(s.quarantine)
            .awaitTermination()
        )
    pipeline.maintain_latest_view(valid, s.view, os.path.join(s.ckpt, "view"))
    with ctx.span("streaming.history_query"):
        return history_summary(spark, s.store).collect()


def setup_stream(ctx: Ctx, rnd: int) -> dict:
    phases: dict[str, float] = {}
    _session(ctx, phases)
    t0 = time.perf_counter()
    warm = Stream(os.path.join(ctx.work, f"warm{rnd}"))
    warm.land(ctx.seed + 1_000_003, 0)
    run_tick(ctx, warm)
    phases["warmup_s"] = time.perf_counter() - t0
    shutil.rmtree(warm.root, ignore_errors=True)
    return phases


def measure_stream(ctx: Ctx, seconds: float, min_ticks: int) -> None:
    s = ctx.stream = Stream(os.path.join(ctx.work, "stream"))
    start = time.perf_counter()
    tick = 0
    while tick < min_ticks or time.perf_counter() - start < seconds:
        s.land(ctx.seed, tick)
        t0 = time.perf_counter()
        try:
            with ctx.span("stream.tick", tick=tick):
                rows = run_tick(ctx, s)
        except Exception as exc:
            ctx.failed += 1
            ctx.raised += 1
            ctx.errors.append(f"tick {tick}: {type(exc).__name__}: {exc}"[:300])
            rows = None
        t1 = time.perf_counter()
        ctx.tick_results.append((tick, len(s.history), rows))
        if rows is not None:
            ctx.samples.append({"op": f"tick{tick}", "latency_s": t1 - t0})
        tick += 1


def _expected_summary(records: list[dict]) -> dict:
    import pandas as pd

    df = pd.DataFrame(records)
    df["ts"] = pd.to_datetime(df["ts"], utc=True)
    lo = df["ts"].max() - pd.Timedelta(minutes=HISTORY_WINDOW_MIN)
    w = df[df["ts"] >= lo].copy()
    w["cents"] = (w["value"] * 100).round().astype("int64")
    out = {}
    for et, g in w.groupby("event_type"):
        out[et] = (len(g), int(g["cents"].sum()), float(g["value"].min()), float(g["value"].max()))
    return out


def check_stream(ctx: Ctx) -> int:
    """Per tick: the history summary equals a pandas recomputation from
    the generator's records. At the end: stored rows == valid lines sent,
    quarantined rows == malformed lines sent, one view row per key and
    it is that key's latest record."""
    import pandas as pd

    from big_data_final_project_spark.streaming import pipeline

    s, spark = ctx.stream, ctx.spark
    bad = 0
    for tick, n_sent, rows in ctx.tick_results:
        if rows is None:
            continue
        want = _expected_summary(s.history[:n_sent])
        got = {
            r["event_type"]: (r["n"], round(r["total_value"] * 100), r["min_value"], r["max_value"])
            for r in rows
        }
        if got != want:
            bad += 1
            ctx.errors.append(f"tick {tick}: history summary {got} != {want}"[:300])
    problems = []
    stored = pipeline.read_store(spark, s.store).count()
    if stored != len(s.history):
        problems.append(f"stored {stored} rows, sent {len(s.history)} valid")
    quarantined = spark.read.parquet(s.quarantine).count()
    if quarantined != s.malformed:
        problems.append(f"quarantined {quarantined}, sent {s.malformed} malformed")
    view = spark.read.parquet(s.view).select("user_id", "event_id", "ts").toPandas()
    hist = pd.DataFrame(s.history)
    hist["ts"] = pd.to_datetime(hist["ts"], utc=True)
    latest = hist.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    want = dict(zip(latest["user_id"], latest["event_id"]))
    if view["user_id"].duplicated().any():
        problems.append("latest view has duplicate keys")
    elif dict(zip(view["user_id"], view["event_id"])) != want:
        problems.append("latest view differs from the latest record per key")
    ctx.errors.extend(problems)
    ctx.store_stats = _dir_stats(s)
    return bad + len(problems)


def _dir_stats(s: Stream) -> dict:
    def walk(path):
        files = size = 0
        for root, _dirs, names in os.walk(path):
            for n in names:
                files += n.endswith(".parquet")
                size += os.path.getsize(os.path.join(root, n))
        return files, size

    files, size = walk(s.store)
    return {
        "store.files": files,
        "store.bytes_per_input_byte": size / max(1, s.input_bytes),
        "checkpoint.bytes": walk(s.ckpt)[1],
    }


# --- dispatch ---------------------------------------------------------------


def setup(ctx: Ctx, rnd: int) -> dict:
    if ctx.workload == "stream_ticks":
        return setup_stream(ctx, rnd)
    return setup_queries(ctx, rnd)


def measure(ctx: Ctx, seconds: float) -> None:
    if ctx.workload == "stream_ticks":
        measure_stream(ctx, seconds, MIN_TICKS)
    else:
        measure_queries(ctx, seconds)


def check(ctx: Ctx) -> int:
    if ctx.workload == "stream_ticks":
        return check_stream(ctx)
    return check_queries(ctx)


MIN_TICKS = 8
# relational_mix runs on request; the benchmark's set (BENCHMARK.json)
# is pipeline_session and stream_ticks (README.md says why).
WORKLOADS = ("relational_mix", "pipeline_session", "stream_ticks")
