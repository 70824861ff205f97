"""The workload process: one SparkSession, one workload, one seed.

Started by ``run.py`` with the program environment already pinned; writes
``result.json`` (metrics) and the result rows the parent checks into the
output directory, then stops Spark.

    python3 -m perfbench.workloads WORKLOAD INPUTS OUT SECONDS TRACE MODE

MODE is ``full`` (the measured run) or ``baseline`` (a traced pass of the
drain phase or of the join job, run by the parent under ``local[1]``).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

from perfbench import config
from perfbench.trace import NullTracer, Tracer


def _proc_age_s() -> float:
    """Seconds since this process started, from /proc (clock ticks since
    boot against /proc/uptime)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / (os.sysconf("SC_CLK_TCK") or 100)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    rank = max(1, -(-len(s) * pct // 100))
    return s[int(rank) - 1]


def tail_percentile(n: int, wanted: float) -> float:
    """The highest of ``wanted`` and lower standard percentiles that leaves
    at least ten samples beyond it."""
    for pct in (99, 95, 90, 80, 75, 50):
        if pct <= wanted and n * (100 - pct) / 100 >= 10:
            return pct
    return 50


def _progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p
            for p in query.recentProgress]


def plan_nodes(df) -> int:
    """Node count of a DataFrame's logical plan (one tree line per node)."""
    return len(df._jdf.queryExecution().logical().treeString().splitlines())


class ShuffleMeter:
    """Shuffle bytes written by the stages that ran since ``mark()``, read
    from Spark's application status store (the data behind the web UI, kept
    even with the UI off).  Counts every stage, including those adaptive
    execution later drops from the final plan."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.since = self._scan(-1)[1]

    def _scan(self, since: int) -> tuple[int, int]:
        jvm = self.sc._jvm
        stages = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        total, top = 0, since
        for i in range(stages.size()):
            stage = stages.apply(i)
            if stage.stageId() > since:
                total += stage.shuffleWriteBytes()
                top = max(top, stage.stageId())
        return total, top

    def mark(self) -> None:
        self.since = self._scan(self.since)[1]

    def bytes_since_mark(self) -> int:
        return self._scan(self.since)[0]


def partition_skew(df) -> float:
    """Max over median rows per non-empty output partition."""
    from pyspark.sql import functions as F

    sizes = [r[1] for r in df.groupBy(F.spark_partition_id()).count().collect()]
    return max(sizes) / statistics.median(sizes) if sizes else 0.0


# ---------------------------------------------------------------------------
# stream_window_agg
# ---------------------------------------------------------------------------
_STREAM_SCHEMA = "seq long, ts timestamp, user_id long, value long"


def stream_query(spark, eng, src: str, tracer, topic: str, max_files=None):
    """Streaming file source -> Engine.register_stream -> builder:
    greater -> map_expr -> keyed tumbling batch_sum.  Returns the built
    ContinuousQuery."""
    from pyspark.sql import functions as F

    from go_streaming_spark import operators as ops
    from go_streaming_spark.operators.windows import TemporalWindow
    from go_streaming_spark.sources import read_source_stream

    cfg = config.STREAM
    with tracer.span("plans.build"):
        opts = {"maxFilesPerTrigger": str(max_files)} if max_files else {}
        raw = read_source_stream(spark, src, "parquet", schema=_STREAM_SCHEMA, **opts)
        env = raw.select(
            "seq",
            F.col("ts").alias("event_start"),
            F.col("ts").alias("event_end"),
            F.create_map().cast("map<string,string>").alias("meta"),
            "value",
            "user_id",
        )
        eng.register_stream(topic, env, replace=True)
        b = eng.builder().from_source(topic, streaming=True).connect(
            ops.greater(cfg["filter_gt"]))
        if tracer.enabled:
            b = b.connect(ops.observe("filter_out"))
        b = b.connect(ops.map_expr(F.col("value") * 2 + 1)).connect(
            ops.batch_sum(TemporalWindow(f"{cfg['window_s']} seconds"),
                          keys=("user_id",), emit_empty=False))
        return b.build()


class _Sink:
    """foreachBatch sink: pulls each micro-batch's rows into this process and
    stamps the wall-clock time at which it has them."""

    def __init__(self) -> None:
        self.batches: list[tuple[float, object]] = []
        self.max_ws = None

    def __call__(self, batch_df, batch_id) -> None:
        import pyarrow.compute as pc
        from pyspark.sql import functions as F

        table = batch_df.select(
            F.unix_micros("window_start").alias("ws_us"), "user_id",
            F.col("value").cast("long").alias("value"),
        ).toArrow()
        self.batches.append((time.time(), table))
        if len(table):
            top = pc.max(table["ws_us"]).as_py()
            self.max_ws = top if self.max_ws is None else max(self.max_ws, top)

    def table(self):
        import pyarrow as pa

        tables = [t for _, t in self.batches]
        return pa.concat_tables(tables) if tables else None


def _stream_layers(progress: list[dict], listener) -> dict:
    def dur(p, *keys):
        return sum(p.get("durationMs", {}).get(k, 0) for k in keys)

    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    ops_ = [s for p in progress for s in p.get("stateOperators", [])]
    out = {
        "streaming.trigger_ms_p50": statistics.median(dur(p, "triggerExecution") for p in data),
        "streaming.trigger_ms_max": max(dur(p, "triggerExecution") for p in data),
        "streaming.planning_ms_p50": statistics.median(dur(p, "queryPlanning") for p in data),
        "streaming.commit_ms_p50": statistics.median(
            dur(p, "walCommit", "commitOffsets") for p in data),
        "streaming.add_batch_ms_p50": statistics.median(dur(p, "addBatch") for p in data),
        "streaming.events_per_batch_p50": statistics.median(p["numInputRows"] for p in data),
        "sources.latest_offset_ms_p50": statistics.median(
            dur(p, "latestOffset", "getBatch") for p in data),
        "streaming.state_rows_max": max((s.get("numRowsTotal", 0) for s in ops_), default=0),
        "streaming.state_bytes_max": max((s.get("memoryUsedBytes", 0) for s in ops_), default=0),
        "streaming.rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in ops_),
        "operators.window_agg.self_s": sum(
            s.get("allUpdatesTimeMs", 0) + s.get("allRemovalsTimeMs", 0)
            + s.get("commitTimeMs", 0) for s in ops_) / 1000.0,
        "operators.filter.rows_in": sum(p.get("numInputRows", 0) for p in progress),
        "operators.filter.rows_out": sum(
            (p.get("observedMetrics") or {}).get("filter_out", {}).get("n_events", 0)
            for p in progress),
    }
    if listener is not None:
        out["streaming.batches"] = len(progress)
        out["streaming.rows_in"] = sum(listener.rows_in.values())
        out["streaming.rows_out"] = sum(listener.rows_out.values())
    return out


def stream_drain(spark, eng, inputs, out, tracer, tag, listener=None,
                 backlog="backlog") -> dict:
    """Drain a staged backlog at maxFilesPerTrigger through the engine's
    subscribe_batch (availableNow).  Returns events/s and the layer numbers."""
    import pyarrow.parquet as pq

    cfg = config.STREAM
    src = os.path.join(inputs, backlog)
    sink = _Sink()
    with tracer.span("streaming.drain"):
        q = stream_query(spark, eng, src, tracer, f"drain_{tag}",
                         cfg["max_files_per_trigger"])
        q.subscribe_batch(sink)
        q.await_done()
    # drain time: first micro-batch start to last micro-batch end, so the
    # one-off query start-up does not dilute the rate
    progress = _progress_dicts(q._sq)
    wall = max(_iso_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
               for p in progress) - _iso_epoch(progress[0]["timestamp"])
    n_events = sum(pq.ParquetFile(os.path.join(src, n)).metadata.num_rows
                   for n in os.listdir(src))
    table = sink.table()
    if table is not None:
        pq.write_table(table, os.path.join(out, f"stream_drain_{tag}.parquet"))
    res = {"events_per_s": n_events / wall, "rows_file": f"stream_drain_{tag}.parquet"}
    if tracer.enabled:
        res["layers"] = _stream_layers(progress, listener)
    return res


def _live_files(src: str):
    """Per input file: the largest event time (micros) among events that
    pass the filter, i.e. the watermark the file can set."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    names = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
    maxes = []
    for n in names:
        t = pq.read_table(os.path.join(src, n), columns=["ts", "value"])
        t = t.filter(pc.greater(t["value"], config.STREAM["filter_gt"]))
        maxes.append(pc.max(t["ts"].cast("int64")).as_py())
    return names, maxes


def stream_live(spark, eng, inputs, out, tracer, tag, listener=None) -> dict:
    """Open-loop live phase: the generator process publishes the live files
    on a fixed schedule while a processing-time-triggered query runs."""
    import bisect

    import pyarrow.parquet as pq

    cfg = config.STREAM
    src = os.path.join(inputs, "live")
    watch = os.path.join(out, f"watch_{tag}")
    os.makedirs(watch)
    names, maxes = _live_files(src)
    window_us = cfg["window_s"] * 1_000_000
    sink = _Sink()
    q = stream_query(spark, eng, watch, tracer, f"live_{tag}")
    sq = (
        q.df.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(processingTime=cfg["trigger"])
        .option("checkpointLocation", os.path.join(out, f"ckpt_{tag}"))
        .start()
    )
    log_path = os.path.join(out, f"gen_{tag}.json")
    t0 = time.time() + 0.5
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "stream_gen.py"),
         src, watch, repr(t0), repr(cfg["file_period_s"]), log_path])
    try:
        gen.wait(timeout=len(names) * cfg["file_period_s"] + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    # the last data window closes with the flush file; wait for its emission
    last_ws = (max(maxes[:-1]) // window_us) * window_us
    deadline = time.time() + 60
    while time.time() < deadline and (sink.max_ws is None or sink.max_ws < last_ws):
        time.sleep(0.05)
    progress = _progress_dicts(sq)
    sq.stop()
    with open(log_path) as fh:
        gen_log = json.load(fh)

    # latency per window: emission time minus the scheduled publish time
    # of the first file holding a (filter-passing) event at or past its end
    emitted: dict[int, float] = {}
    for t_emit, table in sink.batches:
        for ws in set(table["ws_us"].to_pylist()):
            emitted[ws] = min(emitted.get(ws, t_emit), t_emit)
    run_max = []
    m = None
    for v in maxes:
        m = v if m is None else max(m, v)
        run_max.append(m)
    lat_ms = []
    for ws, t_emit in emitted.items():
        i = bisect.bisect_left(run_max, ws + window_us)
        if cfg["warmup_files"] <= i < len(names) - 1:  # flush file excluded
            lat_ms.append((t_emit - gen_log["sched"][i]) * 1000.0)
    table = sink.table()
    pq.write_table(table, os.path.join(out, f"stream_live_{tag}.parquet"))
    res = {"latencies_ms": lat_ms, "gen_lag_ms_max": gen_log["lag_ms_max"],
           "rows_file": f"stream_live_{tag}.parquet"}
    if tracer.enabled:
        layers = _stream_layers(progress, listener)
        # files published minus files committed, at each progress report
        e = cfg["events_per_file"]
        done, lag = 0, 0
        for p in progress:
            done += p.get("numInputRows", 0)
            ts = _iso_epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000
            published = bisect.bisect_right(gen_log["actual"], ts)
            lag = max(lag, published - done // e)
        layers["sources.lag_files_max"] = lag
        res["layers"] = layers
    return res


def _iso_epoch(stamp: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def run_stream(spark, eng, inputs, out, tracer, seconds, mode) -> dict:
    cfg = config.STREAM
    if mode == "baseline":
        from go_streaming_spark.streaming import StreamMetricsListener

        listener = StreamMetricsListener()
        spark.streams.addListener(listener)
        stream_drain(spark, eng, inputs, out, NullTracer(), "warm", backlog="warm")
        d = stream_drain(spark, eng, inputs, out, tracer, "base", listener)
        return {"layers": {"baseline.local1.drain_events_per_s": d["events_per_s"]}}

    res: dict = {"rows_files": []}
    passes = [("u", NullTracer())]
    if tracer.enabled:
        passes.append(("t", tracer))
    for tag, tr in passes:
        listener = None
        if tr.enabled:
            from go_streaming_spark.streaming import StreamMetricsListener

            listener = StreamMetricsListener()
            spark.streams.addListener(listener)
        if not tr.enabled:
            # untimed: code generation and the first state-store batches
            warm = stream_drain(spark, eng, inputs, out, tr, "warm", backlog="warm")
            res["rows_files"].append(warm["rows_file"])
        drain = stream_drain(spark, eng, inputs, out, tr, tag, listener)
        live = stream_live(spark, eng, inputs, out, tr, tag, listener)
        if listener is not None:
            spark.streams.removeListener(listener)
        rate = drain["events_per_s"]
        lat = live["latencies_ms"]
        tail = tail_percentile(len(lat), cfg["tail_pct"])
        e2e = {
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": percentile(lat, tail),
            "throughput_per_s": rate,
        }
        res["rows_files"] += [drain["rows_file"], live["rows_file"]]
        if not tr.enabled:
            res["e2e"] = e2e
            res["report"] = {
                "stream.latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
                f"stream.latency_p{tail:g}_ms": (e2e["latency_tail_ms"], "ms"),
                "stream.latency_samples": (len(lat), "count"),
                "stream.drain_events_per_s": (rate, "1/s"),
                "stream.offered_events_per_s": (
                    cfg["events_per_file"] / cfg["file_period_s"], "1/s"),
                "harness.generator_lag_ms_max": (live["gen_lag_ms_max"], "ms"),
            }
        else:
            layers = {k: v for k, v in live["layers"].items()}
            # drain-phase numbers describe throughput; live-phase ones latency
            for k in ("streaming.add_batch_ms_p50", "streaming.events_per_batch_p50",
                      "streaming.state_rows_max", "streaming.state_bytes_max",
                      "operators.window_agg.self_s", "operators.filter.rows_in",
                      "operators.filter.rows_out"):
                layers[k] = drain["layers"][k]
            layers["operators.window_agg.rows_out"] = _rows(out, drain["rows_file"])
            layers["streaming.rows_dropped_by_watermark"] = (
                live["layers"]["streaming.rows_dropped_by_watermark"]
                + drain["layers"]["streaming.rows_dropped_by_watermark"])
            layers["harness.generator_lag_ms_max"] = live["gen_lag_ms_max"]
            res["layers"] = layers
            res["traced_e2e"] = e2e
    return res


def _rows(out: str, name: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(out, name)
    return pq.ParquetFile(path).metadata.num_rows if os.path.exists(path) else 0


# ---------------------------------------------------------------------------
# corpus_ingest
# ---------------------------------------------------------------------------
def _build_state(corpus, tracer):
    from go_streaming_spark.functions import dedup as dd
    from go_streaming_spark.functions.corpus_state import CorpusState

    cfg = config.CORPUS
    with tracer.span("functions.corpus_state.build"):
        state = CorpusState.build(corpus, "doc_id", "text", cfg["n"], cfg["k"],
                                  cfg["rows_per_band"])
        if not tracer.enabled:
            return state.checkpoint()
        # the same materialization as CorpusState.checkpoint, one span each
        with tracer.span("functions.corpus_state.build.digests"):
            digests = tracer.force(state.digests)
        with tracer.span("functions.corpus_state.build.minhash_index"):
            mh = dd.MinHashIndex(tracer.force(state.minhash.bands),
                                 tracer.force(state.minhash.shingles),
                                 state.n, state.k, state.rows_per_band)
        with tracer.span("functions.corpus_state.build.gram_index"):
            grams = tracer.force(state.grams)
        with tracer.span("functions.corpus_state.build.cms"):
            cms = tracer.force(state.cms)
        return CorpusState(digests, mh, grams, cms, state.n, state.k,
                           state.rows_per_band, state.gram_k, state.cms_depth,
                           state.cms_width)


def _dedup_counts(prev, batch, survivors, tracer, acc: dict) -> None:
    """Traced-only: what the ingest's dedup stages did to one batch,
    recomputed from the public dedup functions over the state before it."""
    from pyspark.sql import functions as F

    from go_streaming_spark.functions import dedup as dd

    cfg = config.CORPUS
    n_batch = batch.count()
    unseen = (batch.select(F.md5("text").alias("content_hash")).distinct()
              .join(prev.digests, "content_hash", "left_anti").count())
    n_surv = survivors.count()
    acc["exact"] += n_batch - unseen
    acc["near"] += unseen - n_surv
    sh = dd.shingle_arrays(batch, "doc_id", "text", cfg["n"]).localCheckpoint()
    sig = dd.minhash_signatures_wide(batch, "doc_id", "text", cfg["n"], cfg["k"],
                                     shingles=sh)
    bands = dd.band_keys(sig, cfg["k"], cfg["rows_per_band"]).localCheckpoint()
    a = bands.select(F.col("id").alias("id_a"), "band", "band_key")
    vs_corpus = (a.join(prev.minhash.bands.select(F.col("id").alias("id_b"),
                                                  "band", "band_key"),
                        ["band", "band_key"]).select("id_a", "id_b").distinct())
    b = bands.select(F.col("id").alias("id_b"), "band", "band_key")
    in_batch = (a.join(b, ["band", "band_key"]).filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
    acc["candidates"] += vs_corpus.count() + in_batch.count()
    thr = cfg["threshold"]
    acc["verified"] += (
        dd.jaccard_verify_pairs(vs_corpus, None, "doc_id", "text", cfg["n"],
                                shingles=sh, shingles_b=prev.minhash.shingles)
        .filter(F.col("jaccard") >= thr).count()
        + dd.jaccard_verify_pairs(in_batch, None, "doc_id", "text", cfg["n"],
                                  shingles=sh)
        .filter(F.col("jaccard") >= thr).count())
    with tracer.span("functions.dedup.spans"):
        dd.duplicated_spans_against_index(
            survivors.select("doc_id", "text"), prev.grams, "doc_id", "text",
            prev.gram_k).write.format("noop").mode("overwrite").save()


def run_corpus(spark, eng, inputs, out, tracer, seconds, mode) -> dict:
    from go_streaming_spark.sources import read_source

    cfg = config.CORPUS
    passes = [("u", NullTracer())] + ([("t", tracer)] if tracer.enabled else [])
    res: dict = {}
    for tag, tr in passes:
        with tr.span("sources.scan"):
            corpus = read_source(spark, os.path.join(inputs, "corpus.parquet"))
        t0 = time.perf_counter()
        state = _build_state(corpus, tr)
        build_s = time.perf_counter() - t0
        times, decisions = [], []
        meter = ShuffleMeter(spark) if tr.enabled else None
        acc = {"exact": 0, "near": 0, "candidates": 0, "verified": 0, "shuffle": 0}
        loop0 = time.perf_counter()
        n_batches = config.corpus_batches(seconds)
        for b in range(n_batches):
            batch = read_source(spark, os.path.join(inputs, f"batch-{b}.parquet"))
            prev = state
            if meter:
                meter.mark()
            with tr.span("functions.corpus_state.ingest"):
                t1 = time.perf_counter()
                clean, state = state.ingest(batch, "doc_id", "text", cfg["threshold"])
                ids = [r[0] for r in clean.select("doc_id").collect()]
                times.append(time.perf_counter() - t1)
            decisions.append(sorted(ids))
            if tr.enabled:
                acc["shuffle"] += meter.bytes_since_mark()
                with tr.span("harness.dedup_counts"):
                    _dedup_counts(prev, batch, clean, tr, acc)
        loop_s = time.perf_counter() - loop0
        if tr.enabled:
            loop_s -= tr.total("harness.dedup_counts")
        docs = n_batches * cfg["batch_docs"]
        e2e = {
            "latency_p50_ms": statistics.median(times) * 1000,
            "latency_tail_ms": percentile(times, 75) * 1000,
            "throughput_per_s": docs / loop_s,
        }
        with open(os.path.join(out, f"corpus_survivors_{tag}.json"), "w") as fh:
            json.dump(decisions, fh)
        if not tr.enabled:
            res["e2e"] = e2e
            res["report"] = {
                "ingest.docs_per_s": (e2e["throughput_per_s"], "1/s"),
                "ingest.build_s": (build_s, "s"),
                "ingest.batch_ms_p50": (e2e["latency_p50_ms"], "ms"),
                "ingest.batch_ms_p75": (e2e["latency_tail_ms"], "ms"),
            }
            continue
        frames = [state.digests, state.minhash.bands, state.minhash.shingles,
                  state.grams, state.cms]
        res["layers"] = {
            "sources.scan_s": tr.total("sources.scan"),
            "functions.corpus_state.build_s": build_s,
            "functions.corpus_state.build.digests_s": tr.total("functions.corpus_state.build.digests"),
            "functions.corpus_state.build.minhash_index_s": tr.total(
                "functions.corpus_state.build.minhash_index"),
            "functions.corpus_state.build.gram_index_s": tr.total(
                "functions.corpus_state.build.gram_index"),
            "functions.corpus_state.build.cms_s": tr.total("functions.corpus_state.build.cms"),
            "functions.corpus_state.ingest_s_p50": statistics.median(times),
            "functions.corpus_state.ingest_s_growth": times[-1] / times[0],
            "functions.corpus_state.state_rows": sum(f.count() for f in frames),
            "functions.corpus_state.plan_nodes": sum(plan_nodes(f) for f in frames),
            "functions.dedup.exact_dropped": acc["exact"],
            "functions.dedup.near_dropped": acc["near"],
            "functions.dedup.lsh_candidates": acc["candidates"],
            "functions.dedup.candidate_yield": (
                acc["verified"] / acc["candidates"] if acc["candidates"] else 0.0),
            "functions.dedup.spans_s": tr.total("functions.dedup.spans"),
            "exchange.shuffle_bytes": acc["shuffle"],
        }
        res["traced_e2e"] = e2e
    return res


# ---------------------------------------------------------------------------
# window_join_batch
# ---------------------------------------------------------------------------
def join_frames(spark, inputs, tracer):
    from go_streaming_spark import operators as ops
    from go_streaming_spark.events import to_events
    from go_streaming_spark.operators.windows import TemporalWindow
    from go_streaming_spark.sources import read_source

    cfg = config.JOIN
    with tracer.span("sources.scan"):
        entry = tracer.force(read_source(spark, os.path.join(inputs, "entry")))
        exit_ = tracer.force(read_source(spark, os.path.join(inputs, "exit")))
    with tracer.span("events.to_events"):
        left = tracer.force(to_events(entry, value=["vehicle_id", "seq", "entry_loc"],
                                      event_time="ts", seq="seq"))
        right = tracer.force(to_events(exit_, value=["vehicle_id", "seq", "exit_loc"],
                                       event_time="ts", seq="seq"))
    policy = TemporalWindow(f"{cfg['window_s']} seconds")
    inner = ops.window_join(left, right, "vehicle_id", policy, how="inner")
    leftj = ops.window_join(left, right, "vehicle_id", policy, how="left")
    sliding = ops.batch_count(
        TemporalWindow(f"{cfg['slide_len_s']} seconds", f"{cfg['slide_step_s']} seconds"),
        lineage=False, emit_empty=False)(left)
    return inner, leftj, sliding


def _join_rows(df):
    from pyspark.sql import functions as F

    return df.select(
        F.unix_micros("window_start").alias("ws_us"),
        F.col("value.l.vehicle_id").alias("vehicle_id"),
        F.col("value.l.seq").alias("l_seq"),
        F.col("value.r.seq").alias("r_seq"),
        F.col("value.l.entry_loc").alias("entry_loc"),
        F.col("value.r.exit_loc").alias("exit_loc"),
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def join_pass(spark, inputs, tracer) -> None:
    inner, leftj, sliding = join_frames(spark, inputs, tracer)
    with tracer.span("operators.window_join"):
        _noop(_join_rows(inner))
        _noop(_join_rows(leftj))
    with tracer.span("operators.window_count_sliding"):
        _noop(sliding)


def run_join(spark, eng, inputs, out, tracer, seconds, mode) -> dict:
    from pyspark.sql import functions as F

    n_in = 2 * config.JOIN["rows_per_side"]
    if mode == "baseline":
        join_pass(spark, inputs, NullTracer())  # warm-up, as in the full run
        t0 = time.perf_counter()
        join_pass(spark, inputs, tracer)
        return {"layers": {"baseline.local1.join_rows_per_s": n_in / (time.perf_counter() - t0)}}
    # one untimed pass writes the results the parent checks, and warms the
    # file listing and code generation the timed passes reuse
    inner, leftj, sliding = join_frames(spark, inputs, NullTracer())
    _join_rows(inner).write.parquet(os.path.join(out, "join_inner.parquet"))
    _join_rows(leftj).write.parquet(os.path.join(out, "join_left.parquet"))
    sliding.select(F.unix_micros("window_start").alias("ws_us"),
                   F.col("value").alias("n")).write.parquet(
        os.path.join(out, "join_sliding.parquet"))
    # JIT compilation keeps shortening the passes after that; without these
    # the slowest timed pass, and with it the tail, is a warm-up pass
    for _ in range(config.JOIN["warmup_passes"]):
        join_pass(spark, inputs, NullTracer())
    passes = config.join_passes(seconds)
    res: dict = {}
    runs = [("u", NullTracer())] + ([("t", tracer)] if tracer.enabled else [])
    for tag, tr in runs:
        times = []
        meter = ShuffleMeter(spark) if tr.enabled else None
        for _ in range(passes):
            with tr.span("job"):
                t0 = time.perf_counter()
                join_pass(spark, inputs, tr)
                times.append(time.perf_counter() - t0)
        e2e = {
            "latency_p50_ms": statistics.median(times) * 1000,
            "latency_tail_ms": percentile(times, 75) * 1000,
            "throughput_per_s": n_in / statistics.median(times),
        }
        if not tr.enabled:
            res["e2e"] = e2e
            res["report"] = {
                "join.rows_per_s": (e2e["throughput_per_s"], "1/s"),
                "join.job_ms_p50": (e2e["latency_p50_ms"], "ms"),
                "join.job_ms_p75": (e2e["latency_tail_ms"], "ms"),
                "join.passes": (passes, "count"),
            }
            continue
        shuffle_written = meter.bytes_since_mark()
        rows_read = (spark.read.parquet(os.path.join(inputs, "entry")).count()
                     + spark.read.parquet(os.path.join(inputs, "exit")).count())
        res["layers"] = {
            "sources.scan_s": tr.total("sources.scan") / passes,
            "sources.rows_read": rows_read,
            "events.to_events_s": tr.self_time("events.to_events") / passes,
            "operators.window_join.self_s": tr.self_time("operators.window_join") / passes,
            "operators.window_join.rows_out": inner.count() + leftj.count(),
            "operators.window_join.partition_skew": partition_skew(inner),
            "operators.window_count_sliding.self_s": tr.self_time(
                "operators.window_count_sliding") / passes,
            "exchange.shuffle_bytes": shuffle_written / passes,
        }
        res["traced_e2e"] = e2e
    return res


WORKLOADS = {
    "stream_window_agg": run_stream,
    "corpus_ingest": run_corpus,
    "window_join_batch": run_join,
}


def main(argv: list[str]) -> int:
    workload, inputs, out, seconds, trace, mode = argv[1:7]
    tracer = Tracer() if trace == "1" else NullTracer()
    with tracer.span("session.start"):
        from go_streaming_spark import Engine, get_session

        spark = get_session(f"perfbench_{workload}")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        spark.conf.set("spark.sql.streaming.checkpointLocation",
                       os.path.join(out, "checkpoints"))
    try:
        with tracer.span("engine.warmup"):
            eng = Engine(spark)
            spark.range(100_000).selectExpr("sum(id)").collect()
        setup_s = _proc_age_s()
        res = WORKLOADS[workload](spark, eng, inputs, out, tracer, float(seconds), mode)
        res.setdefault("e2e", {})["setup_s"] = setup_s
        res["workload_s"] = _proc_age_s() - setup_s
        if tracer.enabled:
            res.setdefault("layers", {}).update({
                "session.start_s": tracer.total("session.start"),
                "engine.warmup_s": tracer.total("engine.warmup"),
            })
            if "traced_e2e" in res:
                for k in ("latency_p50_ms", "throughput_per_s"):
                    res["layers"][f"trace.overhead.{k}"] = res["traced_e2e"][k] - res["e2e"][k]
            if workload == "stream_window_agg" and mode == "full":
                res["layers"]["plans.build_ms"] = statistics.median(
                    tracer.durations("plans.build")) * 1000
            tracer.dump(os.path.join(out, "spans.json"), res["layers"])
        with open(os.path.join(out, "result.json"), "w") as fh:
            json.dump(res, fh)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
