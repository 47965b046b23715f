"""The benchmark workloads.

Each workload is a closed loop with one client: every call waits for the
previous one. ``warmup`` runs one pass on a throwaway seed inside set-up;
``run`` repeats the workload's round until the deadline; ``check`` verifies
every operation's output after the timed window; ``metrics`` and
``layer_metrics`` summarise what was measured. Every operation record carries
the round it ran in, so ``overhead`` can compare whole rounds.

With tracing on, ``run`` alternates untraced and traced rounds, so the same
run reports the tracing overhead.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import math
import os
import time
from collections import defaultdict

import gen
from stats import median

WARM_SEED = 1_000_003


def _ms_to_s(xs):
    return [x / 1000.0 for x in xs]


class Progress:
    """StreamingQueryListener that keeps every progress report by query id."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.started: list[str] = []
        self.run_ids: list[str] = []  # Spark runs each query's jobs in a job group named so
        self.by_query: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, e):
                outer.started.append(str(e.id))
                outer.run_ids.append(str(e.runId))

            def onQueryProgress(self, e):
                p = e.progress
                outer.by_query[str(p.id)].append(
                    {
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                        "state": [
                            {
                                "rows": s.numRowsTotal,
                                "bytes": s.memoryUsedBytes,
                                "dropped": s.numRowsDroppedByWatermark,
                                "update_ms": s.allUpdatesTimeMs,
                                "commit_ms": s.commitTimeMs,
                            }
                            for s in p.stateOperators
                        ],
                    }
                )

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                outer.terminated.add(str(e.id))

        self.listener = _L()

    def mark(self) -> int:
        return len(self.started)

    def since(self, mark: int, timeout: float = 20.0) -> list[dict]:
        """Progress of the queries started after ``mark``, once each has
        reported its termination."""
        ids = self.started[mark:]
        t_end = time.monotonic() + timeout
        while time.monotonic() < t_end and not set(ids) <= self.terminated:
            time.sleep(0.02)
        if not set(ids) <= self.terminated:
            raise RuntimeError(f"streaming queries {ids} did not report termination")
        return [b for q in ids for b in self.by_query[q]]


class Ctx:
    def __init__(self, spark, work: str, seed: int, progress: Progress, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.progress = progress
        self.tracer = tracer
        self._n = 0

    def path(self, stem: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{stem}{self._n:04d}")


def _job_metrics(spark, fn):
    from energy_data_stream_processing_spark.functions.stage_metrics import measure_job_metrics

    return measure_job_metrics(spark, fn)


def _group_shuffle_bytes(spark, groups: list[str]) -> int:
    """Shuffle bytes written by the jobs of the given job groups (the same
    status-store reading ``measure_job_metrics`` makes for its own group)."""
    from py4j.protocol import Py4JError

    jsc = spark._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    tracker = spark.sparkContext.statusTracker()
    stage_ids = {
        sid
        for g in groups
        for j in tracker.getJobIdsForGroup(g)
        if (info := tracker.getJobInfo(j)) is not None
        for sid in info.stageIds
    }
    total = 0
    for sid in stage_ids:
        try:
            total += jsc.statusStore().lastStageAttempt(sid).shuffleWriteBytes()
        except Py4JError:  # a skipped stage has no attempt and moved nothing
            continue
    return total


def _timed_loop(tracer, seconds: float, traced: bool, round_fn):
    """Call ``round_fn(i, traced_flag)`` until ``seconds`` pass. A traced run
    alternates untraced and traced rounds, starting untraced, and runs at
    least three, so a traced round sits between two untraced ones."""
    t0 = time.perf_counter()
    i = 0
    while True:
        t = traced and i % 2 == 1
        tracer.enabled = t
        tracer.run_id = f"round{i}" if t else None
        round_fn(i, t)
        i += 1
        if time.perf_counter() - t0 >= seconds and i >= (3 if traced else 1):
            break
    tracer.enabled = False
    tracer.run_id = None


def overhead(ops: list[dict]) -> float:
    """Median traced round time over median untraced round time, minus one.
    A round's time is the sum of its operations' walls, so work done only
    for tracing between operations is not counted. Round 0 is left out: it
    is the first after warm-up (on ``batch_queries`` also the first over its
    inputs) and runs slow."""
    rounds: dict[int, list] = defaultdict(lambda: [False, 0.0])
    for o in ops:
        rounds[o["round"]][0] = o["traced"]
        rounds[o["round"]][1] += o["wall"]
    traced = [w for r, (t, w) in rounds.items() if t]
    untraced = [w for r, (t, w) in rounds.items() if not t and r > 0]
    return median(traced) / median(untraced) - 1.0


class Workload:
    name = ""
    extra_checks = 0
    extra_layer_units: dict[str, str] = {}  # per-layer metrics beyond BENCHMARK.json's

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ops: list[dict] = []

    def prepare(self) -> None:
        """Write the inputs the timed rounds share (before the window opens)."""

    def run(self, seconds: float, traced: bool) -> None:
        self.prepare()
        _timed_loop(self.ctx.tracer, seconds, traced, self.round)

    def attempted(self) -> int:
        return len(self.ops) + self.extra_checks

    def untraced_ops(self):
        return [o for o in self.ops if not o["traced"]]


# ---------------------------------------------------------------------------
# consumer_replay
# ---------------------------------------------------------------------------
class ConsumerReplay(Workload):
    """``python -m energy_data_stream_processing_spark pipeline --streaming``
    called in-process on a fresh seeded backlog file per operation."""

    name = "consumer_replay"
    LINES_PER_BATCH = 100  # the CLI's default

    def _drain(self, path: str, out: str) -> dict:
        from energy_data_stream_processing_spark.__main__ import main

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(["pipeline", "--input", path, "--output", out, "--streaming"])
        if rc != 0:
            raise RuntimeError(f"pipeline exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def warmup(self) -> None:
        c = self.ctx
        path = c.path("warm") + ".jsonl"
        # two batches: after one, batch times still fall by a fifth over the
        # next drain while the JIT catches up
        gen.consumer_jsonl(path, WARM_SEED, {**gen.CONSUMER, "lines": 2 * self.LINES_PER_BATCH})
        self._drain(path, c.path("warm_out"))

    def round(self, i: int, traced: bool) -> None:
        c = self.ctx
        path = c.path("backlog") + ".jsonl"  # fresh path: one consumer lineage per file
        planted = gen.consumer_jsonl(path, gen.sub_seed(c.seed, i))
        out = c.path("consumer_out")
        mark = c.progress.mark()
        t0 = time.perf_counter()
        if traced:
            counts = self._drain_traced(path, out)
        else:
            counts = self._drain(path, out)
        wall = time.perf_counter() - t0
        self.ops.append({
            "round": i, "traced": traced, "path": path, "out": out, "planted": planted,
            "counts": counts, "wall": wall, "batches": c.progress.since(mark),
        })

    def _drain_traced(self, path: str, out: str) -> dict:
        """The CLI's streaming fold, driven through the same public calls in
        the same order, with a span around each."""
        from pyspark.sql import functions as F

        from energy_data_stream_processing_spark.operators.validation import split_events
        from energy_data_stream_processing_spark.sources.jsonl import PAYLOAD_SCHEMA
        from energy_data_stream_processing_spark.sources.replay_source import JsonlReplayDataSource
        from energy_data_stream_processing_spark.sources.sinks import (
            refresh_hourly_incremental,
            write_quarantine,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer
        spark.dataSource.register(JsonlReplayDataSource)
        stream = (
            spark.readStream.format("jsonl_replay")
            .option("path", path)
            .option("lines_per_batch", str(self.LINES_PER_BATCH))
            .load()
        )
        counts = {"valid": 0, "invalid": 0, "batches": 0}

        def fold(batch_df, batch_id):
            s = batch_df.sparkSession

            def body():
                with tr.span("validation.split_count"):
                    envelope = batch_df.where(F.col("valid")).select(
                        "event_type", "event_time",
                        F.from_json("payload", PAYLOAD_SCHEMA).alias("payload"),
                        F.lit(None).cast("string").alias("_corrupt"),
                    )
                    transport_bad = batch_df.where(~F.col("valid")).select(F.col("raw"), F.col("reason"))
                    valid, invalid = split_events(envelope)
                    n_valid = valid.count()
                    counts["valid"] += n_valid
                    counts["invalid"] += invalid.count() + transport_bad.count()
                    counts["batches"] += 1
                with tr.span("sinks.write_quarantine"):
                    write_quarantine(
                        invalid.select(F.to_json(F.struct("*")).alias("raw"), "reason")
                        .unionByName(transport_bad),
                        f"{out}/dead_letter",
                    )
                if n_valid:
                    with tr.span("sinks.refresh_hourly") as sp:
                        touched = refresh_hourly_incremental(
                            s, f"{out}/raw_events", f"{out}/hourly_metrics",
                            valid, increment_id=f"b{batch_id}",
                        )
                        sp["touched_hours"] = len(touched)

            with tr.span("streaming.fold") as sp:
                m = _job_metrics(s, body)
                sp.update(jobs=len(m["jobs"]), input_bytes=m["input_bytes"],
                          shuffle_bytes=m["shuffle_write_bytes"])

        with tr.span("cli.pipeline_streaming"):
            q = (
                stream.writeStream.foreachBatch(fold)
                .option("checkpointLocation", f"{out}/_checkpoint")
                .start()
            )
            q.processAllAvailable()
            q.stop()
        return counts

    def check(self) -> int:
        """Failed operations: the hourly store must equal the batch
        ``pipeline`` over the same file, the dead letter must hold exactly the
        planted invalid lines, and the batch count must be
        ceil(lines / lines_per_batch)."""
        spark = self.ctx.spark
        failed = 0
        for o in self.ops:
            p, cnt = o["planted"], o["counts"]
            ok = (
                cnt["batches"] == math.ceil(p["lines"] / self.LINES_PER_BATCH)
                and cnt["invalid"] == p["invalid"]
                and cnt["valid"] == p["lines"] - p["invalid"]
                and spark.read.json(f"{o['out']}/dead_letter").count() == p["invalid"]
            )
            if ok:
                batch_out = self.ctx.path("consumer_batch")
                self._drain_batch(o["path"], batch_out)
                ok = _hourly_rows(spark, f"{batch_out}/hourly_metrics") == _hourly_rows(
                    spark, f"{o['out']}/hourly_metrics"
                )
            if not ok:
                failed += 1
                o["failed"] = True
        return failed

    def _drain_batch(self, path: str, out: str) -> None:
        from energy_data_stream_processing_spark.__main__ import main

        with contextlib.redirect_stdout(io.StringIO()):
            main(["pipeline", "--input", path, "--output", out])

    def metrics(self) -> dict:
        ops = self.untraced_ops()
        trig = _ms_to_s(b["ms"]["triggerExecution"] for o in ops for b in o["batches"])
        lines = sum(o["planted"]["lines"] for o in ops)
        wall = sum(o["wall"] for o in ops)
        return {
            "items_per_s": lines / wall,
            "op_samples": trig,
            "refresh_samples": [o["wall"] for o in ops],
        }

    def layer_metrics(self) -> dict:
        traced = [o for o in self.ops if o["traced"]]
        batches = [b for o in traced for b in o["batches"]]
        tr = self.ctx.tracer
        st = tr.self_times()
        folds = tr.named("streaming.fold")
        refreshes = tr.named("sinks.refresh_hourly")
        events = sum(o["planted"]["lines"] - o["planted"]["invalid"] for o in traced)
        files, size = _tree_stats([f"{o['out']}/raw_events" for o in traced])
        return {
            "replay_source.latest_offset_ms": median([b["ms"].get("latestOffset", 0) for b in batches]),
            "streaming.add_batch_ms": median([b["ms"]["addBatch"] for b in batches]),
            "streaming.overhead_ms": median(
                [b["ms"]["triggerExecution"] - b["ms"]["addBatch"] for b in batches]
            ),
            "spark.jobs_per_batch": median([s["jobs"] for s in folds]),
            "spark.input_bytes_per_batch": median([s["input_bytes"] for s in folds]),
            "validation.split_count_s": median(st["validation.split_count"]),
            "sinks.write_quarantine_s": median(st["sinks.write_quarantine"]),
            "sinks.refresh_hourly_s": median(st["sinks.refresh_hourly"]),
            "sinks.touched_hours_per_batch": median([s["touched_hours"] for s in refreshes]),
            "sinks.raw_store_files": files / len(traced),
            "sinks.raw_store_bytes_per_event": size / events,
            "validation.invalid_share": sum(o["counts"]["invalid"] for o in traced)
            / sum(o["planted"]["lines"] for o in traced),
        }


def _tree_stats(roots: list[str]) -> tuple[int, int]:
    files = size = 0
    for root in roots:
        for d, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
    return files, size


def _hourly_rows(spark, path: str, where=None) -> list[tuple]:
    from energy_data_stream_processing_spark.operators.hourly import METRIC_COLUMNS

    df = spark.read.parquet(path)
    if where is not None:
        df = df.where(where)
    return sorted(
        (r["hour"], *(None if r[c] is None else float(r[c]) for c in METRIC_COLUMNS))
        for r in df.collect()
    )


# ---------------------------------------------------------------------------
# stateful_stream
# ---------------------------------------------------------------------------
class StatefulStream(Workload):
    """``streaming.runner.run_hourly_pipeline_dispatched`` (variant auto, a
    batch probe frame) over a fresh set of ascending chunk files per
    operation."""

    name = "stateful_stream"
    extra_layer_units = {
        "runner.dispatch_probe_s": "s",
        "runner.state_update_ms": "ms",
        "runner.state_commit_ms": "ms",
        "runner.state_rows_max": "count",
        "runner.state_bytes_max": "bytes",
        "runner.late_rows_dropped": "count",
        "sinks.foreach_batch_upsert_s": "s",
        "spark.shuffle_bytes_per_event": "bytes",
    }

    def _pipeline(self, seed, spec=gen.STREAM) -> dict:
        from energy_data_stream_processing_spark.sources.adapter import energy_events
        from energy_data_stream_processing_spark.streaming import runner

        c = self.ctx
        base = c.path("stream")
        planted = gen.stream_chunks(f"{base}/src", seed, spec, probe_dir=f"{base}/probe",
                                    admitted_dir=f"{base}/admitted")
        mark = c.progress.mark()
        t0 = time.perf_counter()
        ev = runner.energy_events_stream(c.spark, f"{base}/probe", source_dir=f"{base}/src",
                                         max_files_per_trigger=1)
        decision = runner.run_hourly_pipeline_dispatched(
            c.spark, ev, metrics_path=f"{base}/store", checkpoint=f"{base}/ckpt",
            variant="auto", probe_df=energy_events(c.spark, f"{base}/probe"),
        )
        wall = time.perf_counter() - t0
        return {"base": base, "planted": planted, "wall": wall, "decision": decision,
                "batches": c.progress.since(mark), "groups": c.progress.run_ids[mark:]}

    def warmup(self) -> None:
        self._pipeline(WARM_SEED, {**gen.STREAM, "events": 1000, "chunks": 2})

    def round(self, i: int, traced: bool) -> None:
        if not traced:
            self.ops.append({"round": i, "traced": False, **self._pipeline(gen.sub_seed(self.ctx.seed, i))})
            return
        from energy_data_stream_processing_spark.sources import sinks
        from energy_data_stream_processing_spark.streaming import runner

        tr = self.ctx.tracer
        orig_decide, orig_upsert = runner.decide_hourly_variant, sinks.foreach_batch_upsert

        def upsert(path):
            return tr.traced("sinks.foreach_batch_upsert", orig_upsert(path))

        runner.decide_hourly_variant = tr.traced("runner.dispatch_probe", orig_decide)
        sinks.foreach_batch_upsert = upsert
        try:
            with tr.span("runner.run_hourly_pipeline_dispatched"):
                out = self._pipeline(gen.sub_seed(self.ctx.seed, i))
        finally:
            runner.decide_hourly_variant, sinks.foreach_batch_upsert = orig_decide, orig_upsert
        # the stream's jobs run in its own job group, not one the caller sets
        self.ops.append({"round": i, "traced": True,
                         "shuffle_bytes": _group_shuffle_bytes(self.ctx.spark, out["groups"]), **out})

    def check(self) -> int:
        """Failed operations: the hour store must equal the batch
        ``hourly_business_metrics`` over the rows the lateness contract
        admits, and the rows dropped by the watermark must be exactly the
        planted late rows."""
        from pyspark.sql import functions as F

        from energy_data_stream_processing_spark.operators.hourly import hourly_business_metrics
        from energy_data_stream_processing_spark.sources.adapter import energy_events

        spark = self.ctx.spark
        failed = 0
        for o in self.ops:
            p = o["planted"]
            dropped = sum(s["dropped"] for b in o["batches"] for s in b["state"])
            cutoff = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=p["max_real_ts_us"] + 86400 * 10**6)
            got = _hourly_rows(spark, f"{o['base']}/store", F.col("hour") < F.lit(cutoff))
            want_path = f"{o['base']}/want"
            hourly_business_metrics(energy_events(spark, f"{o['base']}/admitted")).write.parquet(want_path)
            want = _hourly_rows(spark, want_path)
            if dropped != len(p["late_ids"]) or got != want or not got:
                failed += 1
                o["failed"] = True
        return failed

    def metrics(self) -> dict:
        ops = self.untraced_ops()
        trig = _ms_to_s(b["ms"]["triggerExecution"] for o in ops for b in o["batches"])
        return {
            "items_per_s": sum(o["planted"]["events"] for o in ops) / sum(o["wall"] for o in ops),
            "op_samples": trig,
            "refresh_samples": [o["wall"] for o in ops],
        }

    def layer_metrics(self) -> dict:
        traced = [o for o in self.ops if o["traced"]]
        st = self.ctx.tracer.self_times()
        states = [s for o in traced for b in o["batches"] for s in b["state"]]
        events = sum(o["planted"]["events"] for o in traced)
        return {
            "runner.dispatch_probe_s": median(st["runner.dispatch_probe"]),
            "runner.state_update_ms": median([s["update_ms"] for s in states]),
            "runner.state_commit_ms": median([s["commit_ms"] for s in states]),
            "runner.state_rows_max": max(s["rows"] for s in states),
            "runner.state_bytes_max": max(s["bytes"] for s in states),
            "runner.late_rows_dropped": median(
                [sum(s["dropped"] for b in o["batches"] for s in b["state"]) for o in traced]
            ),
            "sinks.foreach_batch_upsert_s": median(st["sinks.foreach_batch_upsert"]),
            "spark.shuffle_bytes_per_event": sum(o["shuffle_bytes"] for o in traced) / events,
        }


# ---------------------------------------------------------------------------
# dashboard_refresh
# ---------------------------------------------------------------------------
# business-metrics.json panels plus the schema.sql views a dashboard reads;
# the value is the time column Grafana's $__timeFilter applies to, or None
# for panels without a time range.
PANELS = {
    "revenue_overview": "time",
    "business_kpis_growth": None,
    "engagement_funnel": None,
    "channel_performance": None,
    "customer_activity_funnel": None,
    "green_adoption": "hour",
    "demand_elasticity": "time",
    "total_energy_trend": "time",
    "peak_load_management": "time",
    "pricing_insights": "time",
    "ab_test_segments": "time",
    "distinct_tariff_types": None,
    "distinct_channels": None,
    "rolling_24h_metrics": "hour",
    "daily_energy_summary": None,
    "customer_view": None,
}
RANGED = [n for n, col in PANELS.items() if col]
WIDTH_LABEL = {6: "6h", 24: "24h", 168: "7d", 720: "30d"}


class DashboardRefresh(Workload):
    """One Grafana client refreshing the BI dashboard: every panel in turn,
    rows collected into this process. Ranged panels get a seeded range; within a
    refresh the widths rotate over the ranged panels, so every refresh holds
    each width twice. Runs as part of ``batch_queries``."""

    def _prepare(self, seed: int, spec=gen.DASHBOARD) -> tuple[str, dict]:
        sf = self.ctx.path("dash")
        info = gen.dashboard_events(sf, seed, spec)
        return sf, info

    def _refresh(self, sf: str, r: int, starts, traced: bool) -> list[dict]:
        from energy_data_stream_processing_spark.plans.catalog import all_queries

        qs, tr = all_queries(), self.ctx.tracer
        widths = gen.DASHBOARD["range_widths_h"]
        out = []
        for name, col in PANELS.items():
            rng, width = None, None
            if col:
                width = widths[(r + RANGED.index(name)) % len(widths)]
                lo = starts(width)
                rng = (lo, lo + dt.timedelta(hours=width))

            def call():
                with tr.span("plans.build"):
                    df = qs[name].builder(self.ctx.spark, sf, *(rng or ()))
                with tr.span("plans.execute"):
                    return df.columns, df.collect()

            t0 = time.perf_counter()
            if traced:
                with tr.span("plans.panel", panel=name, width=width) as sp:
                    m = _job_metrics(self.ctx.spark, call)
                    sp.update(jobs=len(m["jobs"]), stages=m["stages"],
                              shuffle_bytes=m["shuffle_write_bytes"], input_bytes=m["input_bytes"])
                cols, rows = m["result"]
            else:
                cols, rows = call()
            out.append({"panel": name, "range": rng, "round": r, "traced": traced, "columns": cols,
                        "rows": rows, "wall": time.perf_counter() - t0})
        return out

    def warmup(self) -> None:
        sf, info = self._prepare(WARM_SEED, {**gen.DASHBOARD, "events": gen.DASHBOARD["events"] // 10})
        self._refresh(sf, 0, gen.range_start_sampler(WARM_SEED, info), False)

    def prepare(self) -> None:
        self.sf, self.info = self._prepare(self.ctx.seed)
        self.starts = gen.range_start_sampler(self.ctx.seed, self.info)

    def round(self, i: int, traced: bool) -> None:
        self.ops.extend(self._refresh(self.sf, i, self.starts, traced))

    def check(self) -> int:
        """Failed panels: each collected panel must equal its DuckDB oracle
        twin over the generated events, range-filtered on the panel's time
        column like Grafana's $__timeFilter; each ranged panel's unfiltered
        form is checked once as well."""
        import duckdb

        from energy_data_stream_processing_spark.plans.catalog import all_queries

        qs = all_queries()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.sf}/events.parquet'")
        cache: dict = {}

        def oracle(name, rng):
            key = (name, rng)
            if key not in cache:
                sql = qs[name].oracle
                args = []
                if rng:
                    col = PANELS[name]
                    sql = f"SELECT * FROM ({sql}) WHERE {col} >= ? AND {col} <= ?"
                    args = list(rng)
                res = con.execute(sql, args)
                cols = [d[0].lower() for d in res.description]
                cache[key] = (sorted(cols), _norm_rows(res.fetchall(), cols))
            return cache[key]

        def matches(name, rng, rows, cols) -> bool:
            cols = [c.lower() for c in cols]
            return oracle(name, rng) == (sorted(cols), _norm_rows(rows, cols))

        failed = 0
        for o in self.ops:
            if not matches(o["panel"], o["range"], o["rows"], o["columns"]):
                failed += 1
                o["failed"] = True
        self.extra_checks = 0
        for name in RANGED:
            df = qs[name].builder(self.ctx.spark, self.sf)
            self.extra_checks += 1
            if not matches(name, None, df.collect(), df.columns):
                failed += 1
        con.close()
        return failed

    def refresh_walls(self) -> list[float]:
        """Per untraced refresh, the sum of its panels' walls."""
        walls: dict[int, float] = defaultdict(float)
        for o in self.untraced_ops():
            walls[o["round"]] += o["wall"]
        return list(walls.values())

    def layer_metrics(self) -> dict:
        tr = self.ctx.tracer
        panels = tr.named("plans.panel")
        build = tr.durations("plans.build")
        execute = tr.durations("plans.execute")
        out = {
            "plans.build_s": median(build),
            "plans.execute_s": median(execute),
            "plans.build_share": sum(build) / sum(s["end"] - s["start"] for s in panels),
            "spark.jobs_per_panel": median([s["jobs"] for s in panels]),
            "spark.stages_per_panel": median([s["stages"] for s in panels]),
            "spark.shuffle_bytes_per_panel": median([s["shuffle_bytes"] for s in panels]),
        }
        for width, label in WIDTH_LABEL.items():
            xs = [s["input_bytes"] for s in panels if s["width"] == width]
            out[f"spark.input_bytes_per_panel.{label}"] = median(xs) if xs else 0
        return out


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return repr(v)


def _norm_rows(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------
TOPK = {"num_queries": 20, "k": 5}
# Each round runs the three searches this many times over, so a round's top-k
# figure is a mean over more than one call of each kind. The first pass over a
# fresh embeddings file also fills the adapter's frame cache.
TOPK_PASSES = 2


class CorpusCuration(Workload):
    """The LLM-data batch job: ``curation_pipeline_full`` over a seeded
    corpus, then exact, LSH and IVF top-k queries over seeded embeddings.
    Runs as part of ``batch_queries``."""

    SEARCHES = ("cosine", "lsh", "ivf")
    STAGES = ("quality", "dedup", "decontaminate", "pack", "split")

    def _prepare(self, seed: int, spec=gen.CORPUS) -> tuple[str, dict]:
        sf = self.ctx.path("corpus")
        return sf, gen.corpus(sf, seed, spec)

    def _curate(self, sf: str) -> list:
        from energy_data_stream_processing_spark.plans.sampling_queries import curation_pipeline_full

        return curation_pipeline_full(self.ctx.spark, sf).collect()

    def _topk(self, sf: str, kind: str) -> list:
        from energy_data_stream_processing_spark.operators import similarity
        from energy_data_stream_processing_spark.sources.adapter import load_table

        emb = load_table(self.ctx.spark, sf, "embeddings")
        fn = {"cosine": similarity.cosine_topk, "lsh": similarity.lsh_topk, "ivf": similarity.ivf_topk}[kind]
        return fn(emb, **TOPK).collect()

    def warmup(self) -> None:
        # a fifth of the corpus: the cold cost is compilation and worker start, not data
        sf, _ = self._prepare(WARM_SEED, {**gen.CORPUS, "docs": gen.CORPUS["docs"] // 5,
                                          "vectors": gen.CORPUS["vectors"] // 5})
        self._curate(sf)
        for kind in self.SEARCHES:
            self._topk(sf, kind)

    def prepare(self) -> None:
        self.sf, self.info = self._prepare(self.ctx.seed)

    def round(self, i: int, traced: bool) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        if traced:
            with tr.span("curation.pipeline_full"):
                m = _job_metrics(spark, lambda: self._curate(self.sf))
            rows, extra = m["result"], {"shuffle_bytes": m["shuffle_write_bytes"]}
        else:
            rows, extra = self._curate(self.sf), {}
        self.ops.append({"kind": "curation", "round": i, "traced": traced,
                         "wall": time.perf_counter() - t0, "rows": rows, **extra})
        for _ in range(TOPK_PASSES):
            for kind in self.SEARCHES:
                t0 = time.perf_counter()
                with tr.span(f"similarity.{kind}_topk"):
                    rows = self._topk(self.sf, kind)
                self.ops.append({"kind": kind, "round": i, "traced": traced,
                                 "wall": time.perf_counter() - t0, "rows": rows})
        if traced:
            self._stage_times()

    def _stage_times(self) -> None:
        """Time each cumulative prefix of the curation pipeline; a stage's
        time is its prefix's time minus the previous prefix's."""
        from energy_data_stream_processing_spark.functions.stage_metrics import run_to_noop
        from energy_data_stream_processing_spark.plans.sampling_queries import curation_stage_frames

        tr = self.ctx.tracer
        frames = curation_stage_frames(self.ctx.spark, self.sf)
        prev = 0.0
        for stage, df in frames.items():
            with tr.span(f"curation.prefix.{stage}") as sp:
                run_to_noop(df)
            cum = sp["end"] - sp["start"]
            sp["delta"], prev = cum - prev, cum
        self.stage_counts = {
            "quality": frames["quality"].count(),
            "dedup": frames["dedup"].count(),
        }

    def check(self) -> int:
        """Failed operations: a curation pass must account for exactly the
        documents left after the quality gate and the removal of every planted
        near-duplicate, and an exact top-k must equal a NumPy brute-force
        top-k. The curated set is checked once for the planted copies."""
        import numpy as np
        import pyarrow.parquet as pq

        from energy_data_stream_processing_spark.plans.sampling_queries import curated_document_set

        info = self.info
        tab = pq.read_table(f"{self.sf}/embeddings.parquet")
        vecs = np.array(tab.column("embedding").to_pylist(), dtype=np.float64)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        sims = unit[: TOPK["num_queries"]] @ unit.T
        exact = {}
        for q in range(TOPK["num_queries"]):
            sims[q, q] = -np.inf
            exact[q] = set(np.argsort(-sims[q], kind="stable")[: TOPK["k"]].tolist())
        failed = 0
        self.recall: dict[str, list[float]] = defaultdict(list)
        for o in self.ops:
            if o["kind"] == "curation":
                ok = sum(r["n_docs"] for r in o["rows"]) == info["expected_after_dedup"]
            else:
                got = defaultdict(set)
                for r in o["rows"]:
                    got[r["query_id"]].add(r["neighbor_id"])
                if o["kind"] == "cosine":
                    ok = dict(got) == exact
                else:
                    hits = sum(len(got[q] & exact[q]) for q in exact)
                    self.recall[o["kind"]].append(hits / (len(exact) * TOPK["k"]))
                    ok = all(len(v) <= TOPK["k"] for v in got.values())
            if not ok:
                failed += 1
                o["failed"] = True
        kept = {r["doc_id"] for r in curated_document_set(self.ctx.spark, self.sf).select("doc_id").collect()}
        self.extra_checks = 1
        if kept & set(info["near_dup_ids"]) or len(kept) != info["expected_after_dedup"]:
            failed += 1
        return failed

    def docs_per_s(self) -> float:
        cur = [o["wall"] for o in self.untraced_ops() if o["kind"] == "curation"]
        return self.info["docs"] * len(cur) / sum(cur)

    def topk_round_means(self) -> list[float]:
        """Per untraced round, the mean wall of its top-k queries
        (``TOPK_PASSES`` of each kind), so a change to any of the three
        searches moves it."""
        walls: dict[int, list[float]] = defaultdict(list)
        for o in self.untraced_ops():
            if o["kind"] != "curation":
                walls[o["round"]].append(o["wall"])
        return [sum(w) / len(w) for w in walls.values()]

    def layer_metrics(self) -> dict:
        tr = self.ctx.tracer
        by_name = {s["name"]: s for s in tr.spans}
        cur = [o for o in self.ops if o["traced"] and o["kind"] == "curation"]
        out = {f"curation.{stage}_s": by_name[f"curation.prefix.{stage}"]["delta"] for stage in self.STAGES}
        out["spark.shuffle_bytes_per_doc"] = sum(o["shuffle_bytes"] for o in cur) / (
            self.info["docs"] * len(cur)
        )
        for kind in self.SEARCHES:
            out[f"similarity.{kind}_topk_s"] = median(tr.durations(f"similarity.{kind}_topk"))
        out["dedup.kept_share"] = self.stage_counts["dedup"] / self.stage_counts["quality"]
        out["similarity.lsh_recall_at_k"] = median(self.recall["lsh"])
        out["similarity.ivf_recall_at_k"] = median(self.recall["ivf"])
        return out


# ---------------------------------------------------------------------------
# batch_queries
# ---------------------------------------------------------------------------
class BatchQueries(Workload):
    """``corpus_curation`` and ``dashboard_refresh`` in one session: each
    round is one curation pass and its three top-k queries, then one full
    dashboard refresh. Both are batch-plan traffic, so they share one JVM
    start and one warm-up."""

    name = "batch_queries"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx  # no self.ops of its own: the parts keep the records
        self.curation = CorpusCuration(ctx)
        self.dashboard = DashboardRefresh(ctx)
        self.parts = (self.curation, self.dashboard)

    @property
    def ops(self) -> list[dict]:
        return [o for p in self.parts for o in p.ops]

    def warmup(self) -> None:
        for p in self.parts:
            p.warmup()

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def round(self, i: int, traced: bool) -> None:
        for p in self.parts:
            p.round(i, traced)

    def check(self) -> int:
        return sum(p.check() for p in self.parts)

    def attempted(self) -> int:
        return sum(p.attempted() for p in self.parts)

    def metrics(self) -> dict:
        return {
            "items_per_s": self.curation.docs_per_s(),
            "op_samples": self.curation.topk_round_means(),
            "refresh_samples": self.dashboard.refresh_walls(),
        }

    def layer_metrics(self) -> dict:
        return {**self.curation.layer_metrics(), **self.dashboard.layer_metrics()}


WORKLOADS = {w.name: w for w in (ConsumerReplay, BatchQueries, StatefulStream)}
