"""The indexer benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Everything the run writes goes under
``.bench_build/perfbench`` there: cached inputs in ``cache/`` (built by
the first run that needs them), and per-run scratch (Spark local dirs,
temp files, the event log) in ``runs/<pid>``, removed at exit.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The lines before it label the
host and give the workload's own metrics. A traced run also writes its
spans and a per-layer report beside the cache, in ``traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "zigchain_indexer_clickhouse_spark"
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s", "round_p50_s": "s", "round_read_s": "s", "ops_per_s": "1/s",
}

# the timed IndexerAPI calls; split_range and insert_work_queue run once,
# untimed, in the warm-up round
API_CALLS = ("get_pending_work", "update_work_queue_status", "add_failed_block",
             "update_last_indexed_height", "get_overlapping_ranges",
             "count_work_queue", "get_last_indexed_height", "pg_query")
# bench.HEADLINE, and the modules that define those queries
HEADLINE_MODULES = (
    "operators.curation", "operators.dedup", "operators.indexer_core",
    "operators.matviews", "operators.olap", "operators.olap_extra",
    "operators.olap_shapes", "operators.orchestration",
    "operators.queue_analytics", "operators.similarity",
    "operators.text_analysis", "sources.bucketed", "sources.rpc_json")
SELF_LAYERS = ("bench", "catalog", "sources.rpc_fetch", "sources.rpc_json",
               "sources.scratch", "sources.tx_decode", "api", "operators",
               "spark.plan")


def per_layer_units(headline) -> dict[str, str]:
    from workloads import LOG_TABLES

    u = {
        "host.peak_rss_mb": "MB", "bench.round_write_s": "s",
        "session.start_s": "s", "registry.import_s": "s",
        "native_registry.ready_s": "s", "native_registry.available": "count",
        "catalog.load_s": "s", "catalog.loads": "count", "catalog.misses": "count",
        "rpc_fetch.busy_s": "s", "rpc_fetch.blocks": "count",
        "rpc_fetch.blocks_per_s": "1/s",
        "rpc_json.fanout_busy_s": "s", "rpc_json.flat_rows": "count",
        "scratch.fanout_s": "s", "scratch.files_written": "count",
        "scratch.bytes_written": "bytes", "scratch.write_amp": "ratio",
        "tx_decode.busy_s": "s", "tx_decode.rows": "count",
        "tx_decode.rows_per_s": "1/s",
    }
    u.update({f"api.{c}.p50_s": "s" for c in API_CALLS})
    u.update({"api.compactions": "count", "api.compact_s": "s"})
    u.update({f"api.log_files.{t}": "count" for t in LOG_TABLES})
    u.update({f"analytics.{q}_s": "s" for q in headline})
    u.update({f"{m}_s": "s" for m in HEADLINE_MODULES})
    u.update({
        "spark.jobs": "count", "spark.tasks": "count", "spark.jobs_per_call": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
        "spark.plan_s": "s", "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
    })
    u.update({f"self.{layer}_s": "s" for layer in SELF_LAYERS})
    u.update({"trace.uncovered_share": "ratio", "trace.spans": "count",
              "trace.bookkeeping_s": "s"})
    return u


# -- host -------------------------------------------------------------------
def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every process it started
    (the Spark driver JVM and its Python workers), sampled from /proc."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_ev = threading.Event()

    def sample(self) -> int:
        total = 0
        for p in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        return self.peak / 2**20


# -- run --------------------------------------------------------------------
def _env(run_dir: str, cache: str, trace_dir: str | None) -> None:
    """Keep every file the program writes inside the checkout and make
    the package importable in Spark's Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(cache, "xdg")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["XDG_CACHE_HOME"] = os.path.join(cache, "xdg")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress=false"]
    if trace_dir:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{trace_dir}",
                 "spark.eventLog.compress=false"]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _setup(ctx) -> dict:
    """Session start, registry import, native kernel ready, first action."""
    t = [time.perf_counter()]
    from zigchain_indexer_clickhouse_spark.session import get_spark

    ctx.spark = get_spark("perfbench")
    t.append(time.perf_counter())
    from zigchain_indexer_clickhouse_spark.plans import registry

    ctx.qs = registry.queries()
    t.append(time.perf_counter())
    from zigchain_indexer_clickhouse_spark.functions import native_registry

    available = native_registry.native_available()
    t.append(time.perf_counter())
    ctx.spark.range(1 << 16).selectExpr("sum(id)").collect()  # first action
    t.append(time.perf_counter())
    return {"setup_s": t[4] - t[0], "session.start_s": t[1] - t[0],
            "registry.import_s": t[2] - t[1], "native_registry.ready_s": t[3] - t[2],
            "native_registry.available": int(available)}


def _blob_corpus(ctx) -> None:
    """The registry blob corpus: the package's own at-rest raw-message
    dataset (``registry_decode_at_rest``) over the seed-fixed corpus
    events, copied into the cache once per checkout."""
    import gen
    from zigchain_indexer_clickhouse_spark.sources.scratch import scratch_dir

    out = gen.corpus_path(ctx.cache, ctx.code)
    if os.path.isfile(out):
        return
    ev_dir = gen.corpus_events(ctx.cache)
    ctx.qs["registry_decode_at_rest"](ctx.spark, ev_dir).collect()
    at_rest = scratch_dir(ctx.spark, "registry_at_rest", ev_dir)
    tmp = f"{out}.tmp-{os.getpid()}"
    (ctx.spark.read.parquet(at_rest)
     .selectExpr("height AS event_id", "user_id", "value", "blob_hex")
     .orderBy("event_id").coalesce(1).write.parquet(tmp))
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    os.replace(os.path.join(tmp, part[0]), out)
    shutil.rmtree(tmp, ignore_errors=True)


def _stop() -> None:
    """Stop Spark if it runs, end the JVM, and wait until every process
    this run started has exited. Safe to call more than once."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (left := descendants(os.getpid())) and time.time() < deadline:
        for p in left:
            try:
                os.kill(p, 15 if time.time() < deadline - 20 else 9)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _q(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q
    lo = int(k)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (k - lo)


def _end_to_end(res, setup: dict) -> dict:
    return {
        "setup_s": setup["setup_s"],
        "round_p50_s": _q(res.rounds, 0.5),
        "round_read_s": _q([rw[0] for rw in res.round_rw], 0.5),
        "ops_per_s": len(res.ops) / res.busy,
    }


def _detail(workload: str, res, attempted: int, failed: int) -> dict:
    """The workload's own figures: error rate, batch or pass time, and the
    queue calls' latency percentiles."""
    d = {"error_rate": failed / attempted, "rounds": len(res.rounds),
         "ops": len(res.ops)}
    if workload == "ingest":
        api = [o for o in res.ops if o.name in API_CALLS]
        writes = [o.seconds for o in api if o.kind == "write"]
        reads = [o.seconds for o in api if o.kind == "read"]
        d.update(batch_p50_s=_q(res.rounds, 0.5),
                 write_p50_s=_q(writes, 0.5), write_p90_s=_q(writes, 0.9),
                 read_p50_s=_q(reads, 0.5), read_p90_s=_q(reads, 0.9),
                 ops_per_s=len(api) / res.busy,
                 ingest_blocks_per_s=res.layer["rpc_fetch.blocks"] / res.busy)
    else:
        d.update(pass_s=_q(res.rounds, 0.5),
                 query_p90_s=_q([o.seconds for o in res.ops], 0.9))
    return d


def _per_layer(ctx, res, setup: dict, rss_mb: float, counters: dict,
               units: dict) -> dict:
    import spans

    tr = ctx.tracer
    m = {k: 0.0 for k in units}
    m["host.peak_rss_mb"] = rss_mb
    m["bench.round_write_s"] = _q([rw[1] for rw in res.round_rw], 0.5)
    m.update({k: v for k, v in setup.items() if k in units})
    m.update({k: v for k, v in res.layer.items() if k in units})
    m.update({k: v for k, v in counters.items() if k in units})

    def busy(name):
        return sum(o.seconds for o in res.ops if o.name == name)

    m["catalog.load_s"] = sum(s.dur for s in tr.spans if s.layer == "catalog")
    m["scratch.fanout_s"] = sum(s.dur for s in tr.spans if s.layer == "sources.scratch")
    m["rpc_fetch.busy_s"] = busy("rpc_fetch_ingest")
    if m["rpc_fetch.busy_s"]:
        m["rpc_fetch.blocks_per_s"] = m["rpc_fetch.blocks"] / m["rpc_fetch.busy_s"]
    m["rpc_json.fanout_busy_s"] = busy("ingest_pipeline_full")
    m["tx_decode.busy_s"] = busy("registry_decoded_df_native")
    if m["tx_decode.busy_s"]:
        m["tx_decode.rows_per_s"] = m["tx_decode.rows"] / m["tx_decode.busy_s"]
    if res.layer.get("scratch.input_bytes"):
        m["scratch.write_amp"] = m["scratch.bytes_written"] / res.layer["scratch.input_bytes"]
    for c in API_CALLS:
        xs = [o.seconds for o in res.ops if o.name == c]
        m[f"api.{c}.p50_s"] = _q(xs, 0.5) if xs else 0.0
    for q, xs in res.layer.get("query_s", {}).items():
        m[f"analytics.{q}_s"] = statistics.median(xs)
        mod = ctx.qs[q].__module__.split(".", 1)[1]
        if f"{mod}_s" in m:
            m[f"{mod}_s"] += statistics.median(xs)
    tot = spans.spark_totals(tr)
    for k in ("jobs", "tasks", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = tot[k]
    m["spark.executor_run_s"] = tot["run_s"]
    m["spark.executor_cpu_s"] = tot["cpu_s"]
    m["spark.jobs_per_call"] = tot["jobs"] / max(1, len(res.ops))
    for layer, s in spans.self_times(tr).items():
        key = "operators" if layer.startswith("operators.") else layer
        if f"self.{key}_s" in m:
            m[f"self.{key}_s"] += s
    shares = spans.uncovered_shares(tr, "bench")
    m["trace.uncovered_share"] = statistics.median(shares) if shares else 0.0
    m["trace.spans"] = len(tr.spans)
    m["trace.bookkeeping_s"] = tr.bookkeeping_s
    return m


def _overhead(traced: dict, history: str, workload: str) -> dict:
    """Tracing overhead: each end-to-end metric of this traced run as a
    share above the median of the untraced runs of the same workload and
    program source recorded in this checkout (empty when there are none
    yet)."""
    past = []
    for f in sorted(os.listdir(history)):
        if f.startswith(f"{workload}-"):
            with open(os.path.join(history, f)) as fh:
                past.append(json.load(fh))
    if not past:
        return {}
    return {k: v / statistics.median(p[k] for p in past) - 1.0
            for k, v in traced.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"perfbench: run from a checkout holding {PACKAGE}/ and bench.py",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return _run(args, work, run_dir)
    finally:
        if "pyspark" in sys.modules:
            _stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, run_dir: str) -> int:
    cache = os.path.join(work, "cache")
    trace_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    for d in filter(None, (cache, run_dir, trace_dir)):
        os.makedirs(d, exist_ok=True)
    _env(run_dir, cache, trace_dir)
    sys.path[:0] = [HERE, ROOT]
    import bench
    import gen
    import spans
    import workloads

    host = {"nproc": len(os.sched_getaffinity(0)), "driver_heap": DRIVER_MEM,
            "loadavg_start": [round(x, 2) for x in os.getloadavg()]}
    jiffies = _cpu_jiffies()
    rss = RssSampler()  # a per-layer metric: sampled in traced runs only
    if args.trace:
        rss.start()
    ctx = SimpleNamespace(
        code=gen.code_key(ROOT, PACKAGE), seed=args.seed, seconds=args.seconds,
        cache=cache, run_dir=run_dir,
        tracer=spans.Tracer(bool(args.trace), f"{args.workload}-{args.seed}"))
    counters = {"catalog.loads": 0, "catalog.misses": 0,
                "scratch.files_written": 0, "scratch.bytes_written": 0}
    marks = [("start", time.perf_counter())]
    try:
        setup = _setup(ctx)
        marks.append(("setup", time.perf_counter()))
        # cached inputs: built by the first run that needs them; those the
        # program derives are keyed by its source hash
        ctx.headline = list(bench.HEADLINE)
        ctx.oracles = gen.oracle_sql(cache, ctx.code, [*ctx.headline, "msg_registry_decode"])
        ctx.star = gen.star_schema(cache)
        _blob_corpus(ctx)
        marks.append(("inputs", time.perf_counter()))
        restore = None
        if args.trace:
            ctx.tracer.attach(ctx.spark.sparkContext)
            restore = spans.patch_layers(ctx.tracer, counters)
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            if restore:
                restore()
        marks.append(("workload", time.perf_counter()))
        _stop()
        marks.append(("stop", time.perf_counter()))
    finally:
        rss_mb = rss.stop() if args.trace else 0.0
    st = _cpu_jiffies()
    host["steal_pct"] = round(100.0 * (st[0] - jiffies[0]) / max(1, st[1] - jiffies[1]), 2)
    host["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    attempted = len(res.ops) + res.untimed
    failed = sum(not o.ok for o in res.ops) + res.untimed_failed
    for e in res.errors[:20]:
        print(f"perfbench: {e}", file=sys.stderr)
    by_name: dict[str, list] = {}
    for o in res.ops:
        by_name.setdefault(o.name, []).append(o.seconds)
    for name, xs in by_name.items():
        print(f"perfbench: {name}: n={len(xs)} "
              f"times={' '.join(f'{x:.3f}' for x in xs)}", file=sys.stderr)
    # where the run's wall time went: the workload phase is the warm-up,
    # the timed rounds, the end-state checks and the unmeasured rest
    print("perfbench: phases " + " ".join(
        f"{name}={b - a:.1f}s" for (_, a), (name, b) in zip(marks, marks[1:]))
        + f" (warm_up={res.layer.get('warm_up_s', 0):.1f}s timed={res.busy:.1f}s)",
        file=sys.stderr)
    print("host " + json.dumps(host))
    print("workload " + json.dumps(_detail(args.workload, res, attempted, failed)))
    e2e = _end_to_end(res, setup)
    history = os.path.join(work, "untraced", ctx.code)
    os.makedirs(history, exist_ok=True)
    if args.trace:
        units = per_layer_units(bench.HEADLINE)
        spans.join_jobs(ctx.tracer, spans.read_event_log(trace_dir))
        values = _per_layer(ctx, res, setup, rss_mb, counters, units)
        overhead = _overhead(e2e, history, args.workload)
        print("trace-overhead " + json.dumps(overhead))
        out_dir = os.path.join(work, "traces")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-{args.seed}")
        ctx.tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".report.json", "w") as f:
            json.dump({"host": host, "per_layer": values, "end_to_end_traced": e2e,
                       "tracing_overhead_share": overhead}, f, indent=1)
    else:
        units, values = END_TO_END, e2e
        with open(os.path.join(history, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(e2e, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u}
                                  for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
