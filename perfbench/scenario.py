"""One benchmark run: catch-up set-ups, steady replication cycles with
fresh reads beside the writes, and the query mix.

Every workload runs the same phases in the same order, so every
end-to-end metric is measured on every workload; workloads differ in
the engine configuration and traffic they apply (see `WORKLOADS`).

    session  -> set-up: catch-up #0 into a fresh work dir, its stream
                kept running for the steady cycles, side by side with
                one cold pass of the query mix checked against the
                DuckDB oracle
             -> measured rounds, at least `MIN_ROUNDS`, and more while
                the next one fits in `seconds`; each: `CYCLES_PER_ROUND`
                steady cycles, a timed pass over the query mix, and a
                catch-up into a fresh work dir
             -> stop, exact state check

The benchmark is a closed loop with one client (this process): a cycle's
blobs are written only after the previous cycle is visible in the
replicated table, as in the reference's scan loop whose caller waits.
The stream runs with a zero trigger interval and the benchmark calls
`convert_new` itself, so lag measures work, not the 30 s scan timers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

import gen
from tracing import Tracer

TABLE = "orders"
CYCLE_BLOBS = 2
CYCLES_PER_ROUND = 3
MIN_ROUNDS = 2  # rounds per run, however slow they are


@dataclass(frozen=True)
class Sizes:
    rows: int = 10_000          # backfill rows (state size)
    backlog: int = 5_000        # CDC events waiting at catch-up
    backfill_blob: int = 5_000  # events per blob (the reference rotation)
    cycle_blob: int = 500       # events per steady blob, 2 blobs a cycle
    sf: float = 0.01            # query-input scale factor


TINY = Sizes(rows=2_000, backlog=1_000, backfill_blob=1_000,
             cycle_blob=250, sf=0.001)

#: name -> ReplicationJob settings. Both see the same traffic: 70%
#: UPDATE / 15% INSERT / 15% DELETE, Zipf(1.1) keys, 5% late events.
WORKLOADS = {
    "steady": {"state_backend": "auto"},
    "steady_bucketed": {"state_backend": "bucketed"},
}

#: the query mix: one headline query per operator module
QUERIES = (
    ("relational", "q06_multiway_join"),
    ("cdc_queries", "q26_cdc_latest"),
    ("event_queries", "q31_asof_join"),
    ("pipeline_queries", "c01_chunk_pack"),
)

#: end-to-end metrics (untraced runs): name -> unit
E2E = {
    "setup_s": "s",
    "catchup_events_per_s": "events/s",
    "steady_events_per_s": "events/s",
    "lag_p50_s": "s",
    "lag_tail_s": "s",
    "fresh_read_p50_s": "s",
    "mix_pass_p50_s": "s",
    "query_tail_s": "s",
    "ok_frac": "ratio",
    "stored_bytes_per_input_byte": "B/B",
}

#: per-layer metrics (traced runs): name -> unit
LAYERS = {
    "session.start_s": "s",
    "sources.avro_landing.first_convert_s": "s",
    "sources.avro_landing.convert_s": "s",
    "sources.avro_landing.decode_mb_s": "MB/s",
    "sources.avro_landing.files_reconverted": "count",
    "sources.avro_landing.cycle_convert_s": "s",
    "streaming.pipeline.add_batch_s": "s",
    "streaming.pipeline.trigger_other_s": "s",
    "streaming.pipeline.rows_written_per_changed_key": "rows/key",
    "streaming.pipeline.state_bytes_written": "B",
    "streaming.replication.cycle_overhead_s": "s",
    "streaming.replication.lag_slope_ms_per_cycle": "ms/cycle",
    "streaming.bucketed_state.touched_buckets": "count",
    "streaming.bucketed_state.bytes_rewritten": "B",
    "streaming.commitlog.commits_per_cycle": "count",
    "spark.catchup.jobs": "count",
    "spark.catchup.tasks": "count",
    "spark.catchup.task_busy_s": "s",
    "spark.cycle.jobs": "count",
    "spark.cycle.stream_jobs": "count",
    "spark.cycle.tasks": "count",
    "spark.cycle.task_busy_s": "s",
    "spark.fresh_read.jobs": "count",
    "spark.fresh_read.task_busy_s": "s",
    **{f"operators.{mod}.{q}{suffix}": unit
       for mod, q in QUERIES
       for suffix, unit in (("_s", "s"), (".jobs", "count"),
                            (".task_busy_s", "s"))},
    "process.peak_rss_mb": "MB",
    "trace.self_s": "s",
    "trace.lag_p50_s": "s",
    "trace.mix_pass_p50_s": "s",
}


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least min(10, n/4) of the n samples
    beyond it, and its label: the upper quartile below 40 samples, the
    highest percentile with ten samples beyond it from there on. A
    single slow sample never sets it."""
    n = len(values)
    p = int(100 * (1 - min(10, n / 4) / n))
    return float(np.percentile(values, p)), f"p{p} of {n}"


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def _listing(path: str) -> dict[str, int]:
    out = {}
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            p = os.path.join(dp, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Run:
    def __init__(self, spark, tracer: Tracer, workload: str, sizes: Sizes,
                 area: str, feed: gen.CdcFeed, sf_dir: str, log):
        self.spark = spark
        self.tr = tracer
        self.cfg = WORKLOADS[workload]
        self.sz = sizes
        self.area = area
        self.feed = feed  # the CDC traffic and its expected state
        self.sf_dir = sf_dir
        self.log = log
        self._ops = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.m: dict[str, float] = {}     # end-to-end metrics
        self.layer: dict[str, float] = {}  # per-layer metrics
        self.catchup_spans: list[dict] = []
        self.catchup_converts: list[dict] = []
        self.query_spans: dict[str, list[dict]] = {}

    # -- bookkeeping --

    def op(self, ok: bool, what: str) -> None:
        with self._ops:  # set-up checks from two threads
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(what)
        if not ok:
            self.log(f"FAILED: {what}")

    def land(self, src: str, files: list) -> int:
        n = 0
        for rel, data in files:
            p = os.path.join(src, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(data)
            n += len(data)
        return n

    # -- phases --

    def catchup(self, rep: str, files: list, keep: bool = False,
                sample: bool = True):
        """Land backfill and backlog `files` in a fresh work dir and
        replicate them with `convert_new` plus one `start_all`, until
        `read_state` shows the backlog's newest event; then check the
        live-row count. A `sample` counts towards the catch-up metrics.
        Returns (convert span, job, query, dirs); a job not kept is
        stopped and its dirs removed."""
        from pyspark.sql import functions as F

        from datastream_delta_plugins_spark.streaming.replication import (
            ReplicationJob, TableConfig)
        probe = self.feed.backlog.probe_scn
        live_want = self.feed.catchup_live
        root = os.path.join(self.area, f"catchup-{rep}")
        src, work = os.path.join(root, "blobs"), os.path.join(root, "work")
        landed = self.land(src, files)
        with self.tr.span("catchup", rep=rep) as sp:
            job = ReplicationJob(
                self.spark, work,
                [TableConfig(TABLE, src, ["ID"], source_format="avro")],
                **self.cfg)
            conv = job.converters[TABLE]
            with self.tr.span("convert", rep=rep) as cs:
                converted = conv.convert_new()["converted"]
            qs = job.start_all(trigger={"processingTime": "0 seconds"},
                               convert_interval=86_400.0)
            q = qs[0]
            self.tr.add_stream_group(str(q.runId))
            q.processAllAvailable()
            hit = job.pipelines[TABLE].read_state() \
                .where(F.col("_sk2") == probe).count()
        if sample:
            self.catchup_spans.append(sp)
            self.catchup_converts.append(cs)
        self.op(hit == 1, f"catch-up {rep}: probe row not visible")
        live = job.pipelines[TABLE].read_state() \
            .where(~F.col("_is_deleted")).count()
        self.op(live == live_want, f"catch-up {rep}: {live} live rows, "
                                   f"expected {live_want}")
        if not keep:
            job.stop_all()
            shutil.rmtree(root, ignore_errors=True)
            return cs, None, None, None
        self.converted, self.landed_files = converted, len(files)
        return cs, job, q, (src, work, landed)

    def start_steady(self, job, q, dirs) -> None:
        """Take over the kept catch-up's job and stream for the steady
        cycles."""
        self.job, self.q = job, q
        self.src, self.work, self.landed = dirs
        self.lags, self.fresh, self.convs = [], [], []
        self.changed, self.census = [], []
        self.busy = 0.0  # wall time of the cycles
        self.cycles = 0

    def cycle(self) -> bool:
        """One closed-loop cycle: land the next blobs, convert, wait for
        the stream, probe for the cycle's newest event, then a fresh
        read beside the running stream. Generating the blobs is not
        timed. False when the cycle failed with an exception."""
        from pyspark.sql import functions as F
        k = self.cycles
        pipe, conv = self.job.pipelines[TABLE], self.job.converters[TABLE]
        traffic = self.feed.traffic
        hot = traffic.hot_key
        batch, files = self.feed.cycle()
        want_row, want_live = traffic.row(hot), traffic.live_rows()
        before = _listing(self.work) if self.tr.enabled else None
        t0 = time.perf_counter()
        nbytes = self.land(self.src, files)  # the cycle's blobs close here
        t_close, wall_close = time.perf_counter(), time.time()
        self.landed += nbytes
        self.cycles += 1
        try:
            with self.tr.span("cycle", cycle=k) as cyc:
                with self.tr.span("convert", cycle=k) as cs:
                    got = conv.convert_new()["converted"]
                with self.tr.span("trigger", cycle=k):
                    self.q.processAllAvailable()
                with self.tr.span("probe", cycle=k):
                    hit = pipe.read_state().where(
                        F.col("_sk2") == batch.probe_scn).count()
            lag = time.perf_counter() - t_close
            self.converted += got
            self.landed_files += len(files)
        except Exception as e:  # noqa: BLE001 - counted, then stop
            self.op(False, f"cycle {k}: {e!r}")
            return False
        self.op(hit == 1, f"cycle {k}: probe row not visible")
        with self.tr.span("fresh_read", cycle=k) as fr:
            st = pipe.read_state()
            row = st.where(F.col("ID") == hot).select(
                "NAME", "AMOUNT", "QTY", "_is_deleted").collect()
            live = st.where(~F.col("_is_deleted")).count()
        self.op(len(row) == 1 and tuple(row[0]) == want_row
                and live == want_live,
                f"fresh read after cycle {k}: got {row} / {live} "
                f"live, expected {want_row} / {want_live}")
        self.busy += time.perf_counter() - t0
        self.lags.append(lag)
        self.fresh.append(Tracer.seconds(fr))
        self.convs.append(Tracer.seconds(cs))
        self.changed.append(batch.changed_keys())
        if self.tr.enabled:
            state_root = os.path.join(self.work, "tables", TABLE)
            self.census.append(self._disk_census(
                before, _listing(self.work), state_root, cyc, wall_close))
        return True

    def steady_metrics(self) -> None:
        lags = self.lags
        if not lags:
            raise RuntimeError("no steady cycle completed")
        per_cycle = self.feed.cycle_events
        self.m["lag_p50_s"] = median(lags)
        self.m["lag_tail_s"], self.lag_tail_label = tail(lags)
        self.m["fresh_read_p50_s"] = median(self.fresh)
        self.m["steady_events_per_s"] = per_cycle * len(lags) / self.busy
        self.m["stored_bytes_per_input_byte"] = \
            sum(_listing(self.work).values()) / self.landed
        if self.tr.enabled:
            self._steady_layers()
        self.log(f"steady: {len(lags)} cycles of {per_cycle} events in "
                 f"{self.busy:.1f} s; lag p50 {self.m['lag_p50_s']:.3f} s, "
                 f"tail {self.m['lag_tail_s']:.3f} s ({self.lag_tail_label})")

    def check_state(self, pipe) -> None:
        """Exact compare of the final table with the generator's
        expected latest event per key."""
        exp = self.feed.traffic.expected()
        got = (pipe.read_state()
               .select("ID", "NAME", "AMOUNT", "QTY", "_sk2",
                       "_is_deleted")
               .orderBy("ID").toPandas())
        ok = len(got) == len(exp["ID"])
        if ok:
            names = np.char.add("cust-", exp["NAME"].astype(str))
            ok = (np.array_equal(got["ID"].to_numpy(), exp["ID"])
                  and np.array_equal(got["NAME"].to_numpy().astype(str),
                                     names)
                  and np.array_equal(got["AMOUNT"].to_numpy(),
                                     exp["AMOUNT"])
                  and np.array_equal(got["QTY"].to_numpy(), exp["QTY"])
                  and np.array_equal(got["_sk2"].to_numpy(), exp["SCN"])
                  and np.array_equal(got["_is_deleted"].to_numpy(),
                                     exp["_is_deleted"]))
        self.op(bool(ok), f"final state differs from the expected "
                          f"latest event per key ({len(got)} rows vs "
                          f"{len(exp['ID'])})")

    def query_check(self) -> None:
        """One cold pass over the query mix, each result collected and
        compared with the DuckDB oracle. Not timed: part of set-up."""
        import __spark_entry__ as entry
        from datastream_delta_plugins_spark.testing import (
            duck_connection, duck_result, normalize_rows, spark_result)
        qs, oracle = entry.queries(), entry.oracle_sql()
        con = duck_connection(self.sf_dir)
        try:
            for _mod, name in QUERIES:
                try:
                    cols, rows = spark_result(qs[name](self.spark,
                                                       self.sf_dir))
                except Exception as e:  # noqa: BLE001 - counted
                    self.op(False, f"{name}: {e!r}")
                    continue
                d_cols, d_rows = duck_result(con, oracle[name])
                self.op(len(rows) > 0 and sorted(cols) == sorted(d_cols)
                        and normalize_rows(cols, rows)
                        == normalize_rows(d_cols, d_rows),
                        f"{name}: result differs from the oracle "
                        f"({len(rows)} vs {len(d_rows)} rows)")
        finally:
            con.close()

    def query_pass(self, p: int) -> None:
        """One timed pass over the query mix, each query collected."""
        import __spark_entry__ as entry
        from datastream_delta_plugins_spark.testing import spark_result
        qs = entry.queries()
        for mod, name in QUERIES:
            with self.tr.span("query", query=name, module=mod, rep=p) as sp:
                err = None
                try:
                    spark_result(qs[name](self.spark, self.sf_dir))
                except Exception as e:  # noqa: BLE001 - counted
                    err = repr(e)
            self.op(err is None, f"{name} pass {p}: {err}")
            self.query_spans.setdefault(name, []).append(sp)

    def query_metrics(self) -> None:
        spans = self.query_spans
        n = len(next(iter(spans.values())))
        passes = [sum(Tracer.seconds(spans[q][p]) for q in spans)
                  for p in range(n)]
        secs = {q: median([Tracer.seconds(sp) for sp in s])
                for q, s in spans.items()}
        self.m["mix_pass_p50_s"] = median(passes)
        # the tail of a pass over four different queries is its slowest
        # query; a pooled percentile would only say which one that is
        self.query_tail_label = max(secs, key=secs.get)
        self.m["query_tail_s"] = secs[self.query_tail_label]
        self.log(f"query passes: {[round(x, 3) for x in passes]} s, "
                 f"slowest {self.query_tail_label}")
        if self.tr.enabled:
            for mod, name in QUERIES:
                pre = f"operators.{mod}.{name}"
                self.layer[f"{pre}_s"] = secs[name]
                self._census_metric(f"{pre}.jobs",
                                    [sp["jobs"] for sp in spans[name]])
                self._census_metric(f"{pre}.task_busy_s",
                                    [sp["task_busy_s"] for sp in spans[name]])
            self.layer["trace.mix_pass_p50_s"] = self.m["mix_pass_p50_s"]

    # -- per-layer helpers (traced runs) --

    def _census_metric(self, name: str, vals: list) -> None:
        """Median of per-span census values; left missing (and named on
        stderr) when any of them could not be read."""
        if any(v is None for v in vals):
            self.log(f"{name}: census unreadable, left missing")
            return
        self.layer[name] = median(vals)

    def _disk_census(self, before, after, state_root, cyc,
                     wall_close) -> dict:
        import pyarrow.parquet as pq
        new = [p for p in after if p not in before]
        state = [p for p in new if p.endswith(".parquet")
                 and p.startswith(os.path.join(state_root, "state"))]
        rows = sum(pq.read_metadata(p).num_rows for p in state)
        buckets = {p.split("_state_bucket=")[1].split("/")[0]
                   for p in state if "_state_bucket=" in p}
        commits = [p for p in new
                   if os.path.basename(p).startswith("v")
                   and os.path.basename(p)[1:-5].isdigit()
                   and p.endswith(".json")]
        return {"rows": rows, "bytes": sum(after[p] for p in state),
                "buckets": len(buckets), "commits": len(commits),
                "wall_close": wall_close,
                "wall_end": wall_close + Tracer.seconds(cyc),
                "jobs": self.tr.total(cyc, "jobs"),
                "stream_jobs": self.tr.total(cyc, "stream_jobs"),
                "tasks": self.tr.total(cyc, "tasks"),
                "busy": self.tr.total(cyc, "task_busy_s")}

    def _steady_layers(self) -> None:
        L = self.layer
        lags, census = self.lags, self.census
        L["sources.avro_landing.cycle_convert_s"] = median(self.convs)
        L["sources.avro_landing.files_reconverted"] = \
            self.converted - self.landed_files
        L["streaming.pipeline.rows_written_per_changed_key"] = median(
            [c["rows"] / ch for c, ch in zip(census, self.changed)])
        L["streaming.pipeline.state_bytes_written"] = median(
            [c["bytes"] for c in census])
        bucketed = self.cfg["state_backend"] == "bucketed"
        L["streaming.bucketed_state.touched_buckets"] = median(
            [c["buckets"] for c in census]) if bucketed else 0
        L["streaming.bucketed_state.bytes_rewritten"] = median(
            [c["bytes"] for c in census]) if bucketed else 0
        L["streaming.commitlog.commits_per_cycle"] = median(
            [c["commits"] for c in census])
        x = np.arange(len(lags), dtype=float)
        L["streaming.replication.lag_slope_ms_per_cycle"] = (
            float(np.polyfit(x, np.asarray(lags) * 1e3, 1)[0])
            if len(lags) > 1 else 0.0)
        for key, name in (("jobs", "jobs"), ("stream_jobs", "stream_jobs"),
                          ("tasks", "tasks"), ("busy", "task_busy_s")):
            self._census_metric(f"spark.cycle.{name}",
                                [c[key] for c in census])
        L["trace.lag_p50_s"] = median(lags)
        fr = [s for s in self.tr.spans if s["name"] == "fresh_read"]
        for key in ("jobs", "task_busy_s"):
            self._census_metric(f"spark.fresh_read.{key}",
                                [s[key] for s in fr])

    def stream_layers(self, progress: list[dict]) -> None:
        """Join PipelineMetrics progress events with the cycles whose
        wall-clock window holds their trigger start."""
        from datetime import datetime
        add, other, overhead = [], [], []
        for k, c in enumerate(self.census):
            evs = []
            for e in progress:
                ts = datetime.fromisoformat(
                    e["timestamp"].replace("Z", "+00:00")).timestamp()
                if c["wall_close"] <= ts <= c["wall_end"] \
                        and e["num_input_rows"]:
                    evs.append(e)
            if not evs:
                continue
            a = sum(e["duration_ms"].get("addBatch", 0) for e in evs) / 1e3
            trig = sum(e["duration_ms"].get("triggerExecution", 0)
                       for e in evs) / 1e3
            add.append(a)
            other.append(trig - a)
            overhead.append(self.lags[k] - self.convs[k] - trig)
        if add:
            self.layer["streaming.pipeline.add_batch_s"] = median(add)
            self.layer["streaming.pipeline.trigger_other_s"] = median(other)
            self.layer["streaming.replication.cycle_overhead_s"] = \
                median(overhead)
        else:
            self.log("no streaming progress events matched a cycle")


def execute(spark, tracer: Tracer, workload: str, seconds: float,
            sz: Sizes, area: str, feed: gen.CdcFeed, sf_dir: str,
            session_s: float, log) -> Run:
    run = Run(spark, tracer, workload, sz, area, feed, sf_dir, log)
    metrics = None
    if tracer.enabled:
        from datastream_delta_plugins_spark.streaming.metrics import \
            PipelineMetrics
        metrics = PipelineMetrics()
        spark.streams.addListener(metrics)

    # set-up: catch-up #0 builds the table the steady cycles write to,
    # and one pass of the query mix is checked against the oracle. Both
    # run cold here (the first decode, stream start, merge and queries
    # of this JVM), so no timed phase below pays for cold code paths.
    # They run side by side: cold paths are mostly single threaded
    # (class loading, code generation, worker start). In traced runs the
    # query jobs are credited to catch-up #0's spans, which no
    # per-layer metric reads apart from the convert's duration.
    catchup = feed.backfill_files + feed.backlog_files
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        checked = pool.submit(run.query_check)
        cs, job, q, dirs = run.catchup("0", catchup, keep=True,
                                       sample=False)
        checked.result()
    setup_s = time.perf_counter() - t0
    run.layer["sources.avro_landing.first_convert_s"] = Tracer.seconds(cs)
    log(f"set-up {setup_s:.2f} s after the session")
    run.start_steady(job, q, dirs)
    # measured rounds, each: steady cycles, a query pass, a catch-up.
    # Interleaving spreads every metric's samples over the whole phase,
    # so a burst of contention from other tenants of the machine shifts
    # a minority of each metric's samples instead of all of one's.
    # A round starts only if it is among the first `MIN_ROUNDS` or is
    # expected (from the slowest round so far) to end within `seconds`,
    # so a faster program gets more rounds in the same measured time.
    t0, gen0 = time.perf_counter(), feed.gen_s
    r, slowest = 0, 0.0

    def measured() -> float:  # generating cycle blobs is not measured
        return time.perf_counter() - t0 - (feed.gen_s - gen0)

    try:
        while r < MIN_ROUNDS or measured() + slowest <= seconds:
            start = measured()
            if not all(run.cycle() for _ in range(CYCLES_PER_ROUND)):
                break
            run.query_pass(r)
            r += 1
            run.catchup(str(r), catchup)
            slowest = max(slowest, measured() - start)
    finally:
        phase_s = measured()
        job.stop_all()
    run.check_state(job.pipelines[TABLE])
    run.steady_metrics()
    if metrics is not None:
        metrics.wait_for(1, timeout=5)
        spark.streams.removeListener(metrics)
        run.stream_layers(list(metrics.progress))
    run.query_metrics()
    reps = [Tracer.seconds(sp) for sp in run.catchup_spans]
    run.m["catchup_events_per_s"] = (sz.rows + sz.backlog) / median(reps)
    log(f"{r} rounds in {phase_s:.1f} s; catch-ups: {[round(x, 3) for x in reps]} s")
    if tracer.enabled:
        convert_s = median([Tracer.seconds(cs)
                            for cs in run.catchup_converts])
        run.layer["sources.avro_landing.convert_s"] = convert_s
        run.layer["sources.avro_landing.decode_mb_s"] = sum(
            len(data) for _rel, data in catchup) / 1e6 / convert_s
        for key in ("jobs", "tasks", "task_busy_s"):
            run._census_metric(f"spark.catchup.{key}",
                               [tracer.total(s, key)
                                for s in run.catchup_spans])
    run.m["setup_s"] = session_s + setup_s
    return run
