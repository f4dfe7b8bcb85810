"""The two closed-loop, single-client workloads.

Each runs rounds (an ingest work item, an analytics pass) until the
rounds' busy time reaches the run length, timing every call into the
package and checking every result against what the generator knows. A
failed call or a wrong result counts as a failed op. Each first runs
one untimed, checked warm-up round (a small work item; a full pass), so
the timed rounds leave out the Python workers' start and the JIT
warm-up.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen

# Blocks per ingest batch. Fixed per-job cost dominates below ~1k blocks;
# larger batches make a run longer than the run budget allows.
INGEST_BLOCKS = 1500
INGEST_BLOBS = 30_000
WARM_BLOCKS = 300
WARM_BLOBS = 6_000
QUEUE_ITEMS = 64  # work items enqueued; a run claims a few of them


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    seconds: float
    ok: bool


@dataclass
class Result:
    ops: list = field(default_factory=list)  # timed calls
    rounds: list = field(default_factory=list)  # seconds per round
    round_rw: list = field(default_factory=list)  # (read s, write s) per round
    errors: list = field(default_factory=list)
    untimed: int = 0  # checked but untimed calls (warm-up, end state)
    untimed_failed: int = 0
    layer: dict = field(default_factory=dict)  # per-layer counters

    @property
    def busy(self) -> float:
        return sum(self.rounds)

    def call(self, tracer, name: str, kind: str, layer: str, fn):
        """Time one call into the package; returns (ok, result)."""
        t0 = time.perf_counter()
        try:
            with tracer.span(name, layer):
                out, ok = fn(), True
        except Exception as ex:  # noqa: BLE001 — a failed op is a measurement
            out, ok = None, False
            msg = str(ex).splitlines()[0][:300] if str(ex) else ""
            self.errors.append(f"{name}: {type(ex).__name__}: {msg}")
        self.ops.append(Op(name, kind, time.perf_counter() - t0, ok))
        return ok, out

    def end_round(self, t0: float, first_op: int) -> None:
        self.rounds.append(time.perf_counter() - t0)
        ops = self.ops[first_op:]
        self.round_rw.append((sum(o.seconds for o in ops if o.kind == "read"),
                              sum(o.seconds for o in ops if o.kind == "write")))

    def check(self, cond: bool, msg: str) -> None:
        """Mark the last timed op failed when its output is wrong."""
        if not cond:
            self.ops[-1].ok = False
            self.errors.append(f"{self.ops[-1].name}: wrong result: {msg}")

    def check_untimed(self, cond: bool, msg: str) -> None:
        self.untimed += 1
        if not cond:
            self.untimed_failed += 1
            self.errors.append(msg)

    def absorb_untimed(self, warm: "Result") -> None:
        """Count a warm-up round's calls as checked but untimed."""
        self.untimed += len(warm.ops) + warm.untimed
        self.untimed_failed += sum(not o.ok for o in warm.ops) + warm.untimed_failed
        self.errors += [f"warm-up {e}" for e in warm.errors]


def _warm_up(tracer, res: Result, fn) -> None:
    """Run ``fn(warm_result)`` untimed and untraced, keeping its checks."""
    warm, t0 = Result(), time.perf_counter()
    tracer.paused = True
    try:
        fn(warm)
    finally:
        tracer.paused = False
    res.absorb_untimed(warm)
    res.layer["warm_up_s"] = time.perf_counter() - t0


# -- ingest -----------------------------------------------------------------
def _decode_oracle(slice_events, oracle_sql: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.register("events", slice_events)
        rows = con.execute(oracle_sql).fetchall()
    finally:
        con.close()
    # (type_url, status) -> (n_msgs, total_amt, sum_pid, n_yes)
    return {(r[0], r[1]): tuple(int(v or 0) for v in r[2:6]) for r in rows}


def ingest(ctx) -> Result:
    from pyspark.sql import functions as F

    from zigchain_indexer_clickhouse_spark.api import AUTO_COMPACT_EVERY, IndexerAPI
    from zigchain_indexer_clickhouse_spark.functions import native_registry
    from zigchain_indexer_clickhouse_spark.sources import tx_decode

    res, spark, qs, tr = Result(), ctx.spark, ctx.qs, ctx.tracer
    corpus = pq.read_table(gen.corpus_path(ctx.cache, ctx.code))
    decode = (tx_decode.registry_decoded_df_native
              if native_registry.native_available()
              else tx_decode.registry_decoded_df_py)
    oracle_sql = ctx.oracles["msg_registry_decode"]
    h0 = gen.first_height(ctx.seed)
    items = [(h0, h0 + WARM_BLOCKS - 1)] + [
        (h0 + WARM_BLOCKS + k * INGEST_BLOCKS, h0 + WARM_BLOCKS + (k + 1) * INGEST_BLOCKS - 1)
        for k in range(QUEUE_ITEMS - 1)]
    enqueue, per_item = gen.queue_plan(ctx.seed, items)
    # The run resumes a worker whose logs already hold enough appends
    # since their last compaction that the last append to each table in
    # the first timed round triggers its auto-compaction.
    before = _appends([*enqueue, *per_item[0][0], *per_item[0][1],
                       *per_item[1][0], *per_item[1][1]])
    history = {t: max(0, AUTO_COMPACT_EVERY - before.get(t, 0)) for t in LOG_TABLES}
    base = f"{ctx.run_dir}/indexer"
    model = QueueModel(gen.queue_history(base, h0, history))
    api = IndexerAPI(spark, base)
    # the API counts appends since compaction per process; resuming the
    # worker resumes its count, which matches the files in each log
    api._appends_since_compact.update(history)
    if tr.enabled:
        _trace_compaction(api, tr, res)

    def api_calls(r: Result, calls: list) -> None:
        for call, args in calls:
            want = model.apply(call, args)
            ok, got = r.call(tr, call, "read" if call in _READS else "write",
                             "api", lambda: _api_call(api, call, args))
            if ok and call in _READS:
                r.check(got == want, f"{args} -> {got!r} != {want!r}")

    def work_item(r: Result, k: int, b: gen.Batch) -> None:
        """Claim item k, then fetch + parse, parse + five-table write +
        read-back, decode, then complete it and read the monitors."""
        want_decode = _decode_oracle(
            pq.read_table(f"{b.dir}/blobs.parquet",
                          columns=["event_id", "user_id", "value"]), oracle_sql)
        before, after = per_item[k]
        t0, first = time.perf_counter(), len(r.ops)
        with tr.span("ingest.batch", "bench"):
            api_calls(r, before)
            ok, row = r.call(tr, "rpc_fetch_ingest", "read", "sources.rpc_fetch",
                             lambda: qs["rpc_fetch_ingest"](spark, b.dir).agg(
                                 F.count("*"), F.sum("n_txs"), F.sum("n_failed"),
                                 F.sum("total_gas_used")).collect()[0])
            want = (b.blocks, b.events, b.n_failed, b.gas_used)
            if ok:
                r.check(tuple(row) == want, f"{tuple(row)} != {want}")
            ok, rows = r.call(tr, "ingest_pipeline_full", "write", "sources.rpc_json",
                              lambda: qs["ingest_pipeline_full"](spark, b.dir).collect())
            if ok:
                got = {x["table_name"]: x["n_rows"] for x in rows}
                r.check(got == b.tables, f"{got} != {b.tables}")
            ok, rows = r.call(
                tr, "registry_decoded_df_native", "read", "sources.tx_decode",
                lambda: decode(spark.read.parquet(f"{b.dir}/blobs.parquet")
                               .select("blob_hex"))
                .groupBy("type_url", "status")
                .agg(F.count("*"), F.sum("amt"), F.sum("pid"), F.sum("yes"))
                .collect())
            if ok:
                got = {(x[0], x[1]): tuple(int(v or 0) for v in x[2:6]) for x in rows}
                r.check(got == want_decode and
                        sum(v[0] for v in got.values()) == b.blob_rows,
                        "decoded aggregates differ from the registry oracle")
            api_calls(r, after)
        r.end_round(t0, first)

    def warm(w: Result) -> None:
        api_calls(w, enqueue)
        work_item(w, 0, gen.ingest_batch(ctx.run_dir, corpus, ctx.seed, 0, 0,
                                         WARM_BLOCKS, WARM_BLOBS))

    _warm_up(tr, res, warm)
    blocks = rows_decoded = flat_rows = input_bytes = 0
    k = 1
    while res.busy < ctx.seconds:
        b = gen.ingest_batch(ctx.run_dir, corpus, ctx.seed, k, items[k][0] - h0,
                             INGEST_BLOCKS, INGEST_BLOBS)
        work_item(res, k, b)
        blocks += b.blocks
        rows_decoded += b.blob_rows
        flat_rows += b.tables["tx_event_attrs"]
        input_bytes += os.path.getsize(f"{b.dir}/events.parquet")
        k += 1
    _check_queue_end_state(res, api, model, f"{ctx.run_dir}/indexer")
    res.layer.update({"rpc_fetch.blocks": blocks, "tx_decode.rows": rows_decoded,
                      "rpc_json.flat_rows": flat_rows,
                      "scratch.input_bytes": input_bytes})
    return res


# -- the work queue -----------------------------------------------------------
class QueueModel:
    """What the queue state must be after any prefix of the script,
    starting from the logs' history."""

    def __init__(self, history: "gen.History"):
        self.status: dict[int, tuple] = dict(history.status)  # id -> (start, end, status)
        self.last = history.last
        self.attempts: dict[int, int] = dict(history.attempts)

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for _, _, st in self.status.values():
            out[st] = out.get(st, 0) + 1
        return out

    def apply(self, call: str, args: tuple):
        """Apply a write; for a read, return the expected result."""
        if call == "split_range":  # contiguous; sizes differ by <= 1, larger first
            start, end, parts = args
            base, rem = divmod(end - start + 1, parts)
            out = []
            for k in range(parts):
                size = base + (k < rem)
                out.append((start, start + size - 1))
                start += size
            return out
        if call == "insert_work_queue":
            for it in args[0]:
                self.status[it["id"]] = (it["start_height"], it["end_height"], "pending")
        elif call == "update_work_queue_status":
            s, e, _ = self.status[args[0]]
            self.status[args[0]] = (s, e, args[1])
        elif call == "add_failed_block":
            self.attempts[args[0]] = self.attempts.get(args[0], 0) + 1
        elif call == "update_last_indexed_height":
            self.last = args[1]
        elif call == "get_pending_work":
            return sorted(k for k, v in self.status.items()
                          if v[2] == "pending")[: args[0]]
        elif call == "count_work_queue":
            return self.counts().get(args[0], 0)
        elif call == "get_last_indexed_height":
            return self.last
        elif call == "get_overlapping_ranges":
            lo, hi = args
            return sum(1 for s, e, st in self.status.values()
                       if st in ("pending", "processing") and not (e < lo or hi < s))
        elif call == "pg_query":
            return self.counts()
        return None


_READS = {"get_pending_work", "count_work_queue", "get_last_indexed_height",
          "get_overlapping_ranges", "pg_query", "split_range"}
# the log each write call appends one file to
_APPENDS_TO = {"insert_work_queue": "work_queue",
               "update_work_queue_status": "work_queue",
               "add_failed_block": "failed_blocks",
               "update_last_indexed_height": "index_state"}
LOG_TABLES = ("work_queue", "failed_blocks", "index_state")


def _appends(calls: list) -> dict[str, int]:
    out: dict[str, int] = {}
    for call, _ in calls:
        if call in _APPENDS_TO:
            out[_APPENDS_TO[call]] = out.get(_APPENDS_TO[call], 0) + 1
    return out


def _api_call(api, call: str, args: tuple):
    """Run one script call; reads are fully consumed into Python values."""
    fn = getattr(api, call)
    if call == "get_pending_work":
        return [r["id"] for r in fn(*args).collect()]
    if call == "get_overlapping_ranges":
        return fn(*args).count()
    if call == "pg_query":
        return {r["status"]: r["count"] for r in fn(*args).collect()}
    return fn(*args)


def _trace_compaction(api, tr, res: Result) -> None:
    """Span and count the API's auto-compactions (traced run only)."""
    orig = api.compact

    def compact(table, schema, keys):
        t0 = time.perf_counter()
        with tr.span(f"api.compact.{table}", "api"):
            orig(table, schema, keys)
        res.layer["api.compactions"] = res.layer.get("api.compactions", 0) + 1
        res.layer["api.compact_s"] = (res.layer.get("api.compact_s", 0.0)
                                      + time.perf_counter() - t0)
    api.compact = compact


def _check_queue_end_state(res: Result, api, model: QueueModel, base: str) -> None:
    """Queue-status counts, last indexed height and failed-block attempts
    after the run, outside the timed region."""
    want = model.counts()
    got = {st: api.count_work_queue(st) for st in ("pending", "processing", "completed")}
    res.check_untimed(got == {st: want.get(st, 0) for st in got},
                      f"end state: queue {got} != {want}")
    last = api.get_last_indexed_height("decoded_indexer")
    res.check_untimed(last == model.last,
                      f"end state: last indexed height {last} != {model.last}")
    fb = {r["block_height"]: r["attempts"] for r in api.failed_blocks().collect()}
    res.check_untimed(fb == model.attempts,
                      f"end state: failed blocks {fb} != {model.attempts}")
    for t in LOG_TABLES:
        p = f"{base}/{t}"
        res.layer[f"api.log_files.{t}"] = (
            sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
            if os.path.isdir(p) else 0)


# -- analytics --------------------------------------------------------------
ANALYTICS_WRITES = {"ingest_pipeline_full"}


def _plan_s(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    query execution, from ``queryExecution().tracker()``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


def analytics(ctx) -> Result:
    res, spark, qs, tr = Result(), ctx.spark, ctx.qs, ctx.tracer
    names = ctx.headline  # bench.HEADLINE, imported rather than copied
    want = gen.expected_row_counts(ctx.star, names, ctx.oracles)
    seen: dict[str, set] = {n: set() for n in names}
    query_s: dict[str, list] = {n: [] for n in names}
    plan_s = 0.0

    def warm(w: Result) -> None:
        for name in gen.query_order(names, ctx.seed, 0):
            ok, n = w.call(tr, name, "read", "warm", lambda: qs[name](spark, ctx.star).count())
            if ok:
                seen[name].add(n)
                w.check(n == want[name], f"{n} rows != oracle {want[name]}")

    _warm_up(tr, res, warm)
    p = 1
    while res.busy < ctx.seconds:
        t0, first = time.perf_counter(), len(res.ops)
        with tr.span("analytics.pass", "bench"):
            for name in gen.query_order(names, ctx.seed, p):
                holder = []

                def run():
                    holder.append(qs[name](spark, ctx.star))
                    return holder[0].count()
                ok, n = res.call(tr, name,
                                 "write" if name in ANALYTICS_WRITES else "read",
                                 qs[name].__module__.split(".", 1)[1], run)
                query_s[name].append(res.ops[-1].seconds)
                if ok:
                    seen[name].add(n)
                    res.check(n == want[name], f"{n} rows != oracle {want[name]}")
                    if tr.recording:
                        with tr.span("spark.plan", "spark.plan"):
                            plan_s += _plan_s(holder[0])
        res.end_round(t0, first)
        p += 1
    for name, counts in seen.items():
        res.check_untimed(len(counts) <= 1,
                          f"{name}: row count differs between passes {counts}")
    n_writes = sum(o.name == "ingest_pipeline_full" for o in res.ops)
    res.layer.update({
        "query_s": query_s, "spark.plan_s": plan_s,
        "scratch.input_bytes": n_writes * os.path.getsize(f"{ctx.star}/events.parquet")})
    return res


WORKLOADS = {"ingest": ingest, "analytics": analytics}
