"""CDC replication benchmark: one run of one workload.

    python3 perfbench/run.py --workload steady --seed 1 --seconds 30 --trace 0

Run from the repository root. The run generates its inputs from the seed
(Datastream Avro change blobs and the query-input tables, cached per
seed under `.perfbench/cache`), starts a local Spark session sized to
the machine, runs the phases in `scenario.py`, checks every result, and
prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics (`scenario.E2E`); `--trace 1`
runs the same phases with the Spark census on and reports the per-layer
metrics (`scenario.LAYERS`), writing the spans to `.perfbench/out/`.
`--tiny` shrinks every size for the smoke test. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
AREA = os.path.join(ROOT, ".perfbench")

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def host_settings() -> dict[str, str]:
    """Run settings fitted to the machine, exported before Spark starts
    (the engine reads them; its own defaults target a 32-core box)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1 << 20)
    tmp = os.path.join(AREA, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of host RAM, at most 4g: the inputs are MB-sized
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(AREA, "local"),
        # Python workers import the engine package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # tempfile.gettempdir() -> the avro_ck_* native-kernel cache
        # lives here, built by the first run in a checkout and warm
        # for every later run (both sides of a comparison alike)
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_SUBMIT_OPTS": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dspark.ui.showConsoleProgress=false "
            f"-Dspark.sql.warehouse.dir="
            f"{os.path.join(AREA, 'work', 'warehouse')}"),
    }


def _cache_key(*parts) -> str:
    h = hashlib.sha256()
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())  # generator changes invalidate the cache
    h.update(repr(parts).encode())
    return h.hexdigest()[:12]


def cdc_feed(seed: int, sz):
    """The run's CDC traffic; its blobs are cached per seed and shape."""
    import gen
    import scenario
    key = _cache_key(seed, sz, scenario.CYCLE_BLOBS)
    cdir = os.path.join(AREA, "cache", f"cdc-{seed}-{key}")
    return gen.CdcFeed(seed, sz, scenario.CYCLE_BLOBS, cdir)


def query_inputs(seed: int, sf: float) -> str:
    import gen
    d = os.path.join(AREA, "cache", f"sf-{seed}-{_cache_key(seed, sf)}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_star_schema(d, seed, sf)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when
    its stdin pipe closes; Python workers die with it)."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pyspark  # noqa: F401
        import datastream_delta_plugins_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        log(f"engine not importable from {ROOT}: {e}")
        return 2
    import scenario
    from tracing import RssSampler, Tracer
    if args.workload not in scenario.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(scenario.WORKLOADS)}")
        return 2

    os.makedirs(AREA, exist_ok=True)
    lock = open(os.path.join(AREA, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        log("another run holds this checkout's work area")
        return 2
    os.environ.update(host_settings())
    tempfile.tempdir = None  # re-read TMPDIR
    for var in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_AQE"):
        os.environ.pop(var, None)  # engine defaults on both sides
    work = os.path.join(AREA, "work")
    for d in (work, os.path.join(AREA, "local")):
        shutil.rmtree(d, ignore_errors=True)
    for d in (work, os.path.join(AREA, "local"), os.path.join(AREA, "tmp")):
        os.makedirs(d, exist_ok=True)

    sz = scenario.TINY if args.tiny else scenario.Sizes()
    from datastream_delta_plugins_spark.sources import avro_ckernel
    avro_ckernel.available()  # build the native kernel before timing

    def inputs():
        t0 = time.perf_counter()
        out = query_inputs(args.seed, sz.sf), cdc_feed(args.seed, sz)
        return out, time.perf_counter() - t0

    with RssSampler() as rss, ThreadPoolExecutor(1) as pool:
        # the inputs are generated while the JVM starts (a separate
        # process); the session is up only once both are done
        made = pool.submit(inputs)
        from datastream_delta_plugins_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        try:
            (sf_dir, feed), gen_s = made.result()
            feed_s0 = feed.gen_s
            log(f"session up in {session_s:.2f} s (inputs {gen_s:.2f} s)")
            tracer = Tracer(spark, enabled=bool(args.trace))
            run = scenario.execute(spark, tracer, args.workload,
                                   args.seconds, sz, work, feed, sf_dir,
                                   session_s, log)
        finally:
            stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    log("session stopped")

    # bimodal across runs (spread 0.3 over ten seeds), so it is reported
    # with the per-layer figures rather than gated as an end-to-end one
    run.layer["process.peak_rss_mb"] = rss.peak / 1e6
    run.m["ok_frac"] = 1 - run.failed / run.attempted
    run.layer["session.start_s"] = session_s
    run.layer["trace.self_s"] = tracer.self_s
    if args.trace:
        out = os.path.join(AREA, "out",
                           f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(out)
        log(f"spans written to {out}")
    want, got = ((scenario.LAYERS, run.layer) if args.trace
                 else (scenario.E2E, run.m))
    metrics = {k: {"value": float(got[k]), "unit": u}
               for k, u in want.items() if got.get(k) is not None}
    missing = sorted(set(want) - set(metrics))
    if missing:
        log(f"metrics missing from this run: {missing}")
    print(json.dumps({
        # up-front inputs plus the steady cycles generated during the run
        "gen_s": round(gen_s + feed.gen_s - feed_s0, 3),
        "lag_tail": run.lag_tail_label,
        "query_tail": run.query_tail_label,
        "cycles": run.cycles,
        "lags": [round(x, 3) for x in run.lags],
        "failures": run.failures,
    }))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted,
                      "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
