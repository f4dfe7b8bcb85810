"""Seeded inputs for the three workloads.

Everything the program under test reads comes from here:

- ``star_schema``: the fixed analytics dataset (the TPC-H-ish star
  schema plus ``events``/``documents``/``embeddings``, at the row counts
  of the sf0.01 test tables), generated once per checkout with seed 42;
- ``ingest_batch``: a fresh, height-shifted ``events.parquet`` per
  ingest batch, with 2-5 synthetic ``props`` keys per event, plus the
  batch's slice of the registry blob corpus. The key names and counts
  are made up, not taken from a real block sample;
- ``queue_plan``: the orchestrator/worker calls around each batch, and
  ``queue_history``: the queue logs of the worker the run resumes;
- ``query_order``: the seeded order of the headline queries per pass.

Each generator also returns what it knows about its output, which the
workloads compare with the program's results.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator below changes, so cached inputs are rebuilt.
# Inputs the program itself derives (oracle SQL, the blob corpus) are
# keyed by ``code_key`` as well.
GEN_VERSION = "1"

STAR_SEED = 42
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
CORPUS_ROWS = 72 * 1000  # whole passes of the registry's 72-kind grid
EVENTS_PER_BLOCK = 10  # the engine's convention: height = event_id div 10

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def code_key(root: str, package: str) -> str:
    """A hash of the program's source: ``bench.py`` and every file of
    ``package``, so caches the program derives follow its code."""
    h = hashlib.sha1()
    files = [os.path.join(root, "bench.py")]
    for d, subdirs, names in os.walk(os.path.join(root, package)):
        subdirs[:] = sorted(x for x in subdirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names) if not n.endswith(".pyc")]
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _sql_key(sql: str) -> str:
    return hashlib.sha1(sql.encode()).hexdigest()[:16]


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _publish(tmp: str, final: str) -> None:
    """Move a fully written directory into place; a concurrent or
    interrupted build never leaves a half-written cache behind."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise


def _events(rng, event_ids: np.ndarray, n_users: int, days: int) -> dict:
    n = len(event_ids)
    ts = _EPOCH_2024 + np.sort(
        rng.integers(0, days * _US_PER_DAY, n)).astype("timedelta64[us]")
    return {
        "event_id": pa.array(event_ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.maximum(
            np.round(rng.exponential(50.0, n), 2), 0.01)),
    }


# -- analytics: the static star schema -------------------------------------
_WORDS = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window data column join small customer "
          "query big order group filter stream vector").split()
_ADJ = ("small red blue hot old large new green")
_NOUN = ("ring widget bolt gear gizmo plate anvil pipe")


def star_schema(root: str) -> str:
    """Write (once) and return the analytics dataset directory."""
    final = os.path.join(root, f"star-v{GEN_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(STAR_SEED)
    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000

    def p(name):
        return os.path.join(tmp, f"{name}.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, lo, hi, n):
        d = rng.integers(lo, hi, n) * _US_PER_DAY
        return pa.array(start + d.astype("timedelta64[us]"), pa.timestamp("us"))

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(p("customer"), {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(p("supplier"), {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in _ADJ.split() for b in _NOUN.split()]
    _write(p("part"), {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(p("orders"), {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days(_EPOCH_1995, 0, 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": days(_EPOCH_1995, 1, 2499, n_line)})
    ev = _events(rng, np.arange(10000), 150, 30)
    ev["props"] = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, 10000)]
    _write(p("events"), ev)
    n_doc = 500
    texts = [" ".join(rng.choice(_WORDS, rng.integers(15, 90)))
             for _ in range(n_doc)]
    for i in range(0, n_doc, 50):  # exact and near duplicates for dedup
        texts[i + 1] = texts[i]
        texts[i + 2] = texts[i] + " extra"
    _write(p("documents"), {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc,
                           p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n_vec, labels = 500, rng.integers(0, 10, 500)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.5 * rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(p("embeddings"), {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    _publish(tmp, final)
    return final


def _load_json(path: str) -> dict:
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _store_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(tmp, path)


def expected_row_counts(star_dir: str, names, oracles: dict) -> dict:
    """Row count of each query's DuckDB oracle over ``star_dir`` (the
    oracle gate's own reference for these queries), cached beside the
    data under a hash of each oracle's SQL."""
    path = os.path.join(star_dir, "_expected_rows_by_sql.json")
    cached = _load_json(path)  # sql hash -> row count
    keys = {n: _sql_key(oracles[n]) for n in names}
    missing = [n for n in names if keys[n] not in cached]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(star_dir)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(star_dir, f)}')")
            for n in missing:
                cached[keys[n]] = con.execute(
                    f"SELECT COUNT(*) FROM ({oracles[n]})").fetchone()[0]
        finally:
            con.close()
        _store_json(path, cached)
    return {n: cached[keys[n]] for n in names}


def oracle_sql(root: str, code: str, names) -> dict:
    """The DuckDB oracle SQL of ``names``, cached per program source
    hash ``code``. Read in a child process: asking the registry for its
    oracles arms the oracle gate's background warm-up threads, which
    must not run beside a timed workload."""
    path = os.path.join(root, f"oracles-{code}.json")
    cached = _load_json(path)
    if not set(names) <= set(cached):
        import subprocess
        import sys

        prog = ("import json, sys\n"
                "from zigchain_indexer_clickhouse_spark.plans import registry\n"
                "o = registry.oracles()\n"
                "json.dump({n: o[n] for n in sys.argv[1:]}, sys.stdout)\n")
        out = subprocess.run([sys.executable, "-c", prog, *sorted(set(names) | set(cached))],
                             check=True, capture_output=True, text=True,
                             timeout=300).stdout
        cached = json.loads(out)
        _store_json(path, cached)
    return {n: cached[n] for n in names}


def query_order(names, seed: int, pass_no: int) -> list:
    rng = np.random.default_rng([seed, pass_no])
    return [names[i] for i in rng.permutation(len(names))]


# -- ingest: fresh blocks and the registry blob corpus ----------------------
def corpus_events(root: str) -> str:
    """The events table the blob corpus is synthesized from (seed-fixed;
    the per-run seed only picks slices of it)."""
    d = os.path.join(root, f"corpus-events-v{GEN_VERSION}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rng = np.random.default_rng([STAR_SEED, 1])
        ev = _events(rng, np.arange(CORPUS_ROWS), 1500, 30)
        ev["props"] = ["{}"] * CORPUS_ROWS
        _write(os.path.join(tmp, "events.parquet"), ev)
        _publish(tmp, d)
    return d


def corpus_path(root: str, code: str) -> str:
    """The blob corpus the program at source hash ``code`` derives."""
    return os.path.join(root, f"blob-corpus-v{GEN_VERSION}-{code}.parquet")


def _props(rng, etype: str, h: int, j: int) -> dict:
    """Synthetic event attributes, 2-5 per event: addresses, amounts with
    denominations, wasm contract routing for ``click`` (the wasm
    stand-in). The shape is invented; no chain data backs the counts."""
    sender = f"zig1{rng.integers(0, 10**12):012x}"
    amount = f"{rng.integers(1, 10**9)}uzig"
    if etype == "click":
        return {"_contract_address": f"zig1wasm{rng.integers(0, 64):03d}",
                "action": str(rng.choice(["swap", "provide_liquidity",
                                          "withdraw", "claim"])),
                "sender": sender, "amount": amount, "msg_index": str(j % 3)}
    if etype == "purchase":
        return {"sender": sender, "recipient": f"zig1{rng.integers(0, 10**12):012x}",
                "amount": amount, "fee": f"{rng.integers(100, 5000)}uzig"}
    if etype == "error":
        return {"codespace": "sdk", "code": str(rng.integers(2, 40)),
                "log": "out of gas" if j % 2 else "insufficient funds"}
    if etype == "signup":
        return {"module": "auth", "account": sender}
    return {"module": "bank", "sender": sender, "height": str(h)}


def first_height(seed: int) -> int:
    """The run's first block height: new for every seed."""
    return 5_000_000 + (seed % 1000) * 1_000_000


@dataclass
class Batch:
    dir: str
    blocks: int
    events: int
    n_failed: int
    gas_used: int
    tables: dict = field(default_factory=dict)  # ingest_pipeline_full counts
    blob_rows: int = 0


def ingest_batch(root: str, corpus: "pa.Table", seed: int, i: int,
                 offset: int, blocks: int, blobs_per_batch: int) -> Batch:
    """Batch ``i`` of run ``seed``: ``blocks`` new heights starting
    ``offset`` blocks above the run's first height, ten events per
    block, and a seeded slice of the blob corpus. Written to a directory
    no earlier batch used."""
    rng = np.random.default_rng([seed, i])
    h0 = first_height(seed) + offset
    eids = np.arange(h0 * EVENTS_PER_BLOCK, (h0 + blocks) * EVENTS_PER_BLOCK)
    ev = _events(rng, eids, 1500, 1)
    etypes = ev["event_type"].to_pylist()
    props = [_props(rng, t, int(e) // EVENTS_PER_BLOCK, int(e) % 10)
             for t, e in zip(etypes, eids)]
    ev["props"] = [json.dumps(pr) for pr in props]
    d = os.path.join(root, f"batch-{seed}-{i}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    _write(os.path.join(d, "events.parquet"), ev)
    off = int(rng.integers(0, corpus.num_rows))
    idx = (off + np.arange(blobs_per_batch)) % corpus.num_rows
    pq.write_table(corpus.take(pa.array(idx)), os.path.join(d, "blobs.parquet"))
    values = ev["value"].to_numpy()
    n_keys = np.array([len(pr) for pr in props])
    is_click = np.array([t == "click" for t in etypes])
    return Batch(
        dir=d, blocks=blocks, events=len(eids),
        n_failed=int((eids % 5 == 0).sum()),
        gas_used=int(np.floor(values * 900).astype(np.int64).sum()),
        tables={"blocks": blocks, "txs": len(eids), "tx_events": len(eids),
                "tx_event_attrs": int(n_keys.sum()),
                "type_wasm_attrs": int(n_keys[is_click].sum())},
        blob_rows=blobs_per_batch,
    )


# -- the work queue that frames each ingest batch --------------------------
_LOG_COLUMNS = {
    "work_queue": {"id": pa.int64(), "start_height": pa.int64(),
                   "end_height": pa.int64(), "status": pa.string(),
                   "error_message": pa.string(),
                   "created_at": pa.timestamp("us", "UTC"),
                   "updated_at": pa.timestamp("us", "UTC")},
    "failed_blocks": {"block_height": pa.int64(), "error_type": pa.string(),
                      "error_message": pa.string(), "worker_id": pa.string(),
                      "attempts": pa.int32()},
    "index_state": {"index_name": pa.string(),
                    "last_processed_height": pa.int64(),
                    "updated_at": pa.timestamp("us", "UTC")},
}
_LIFECYCLE = ("pending", "processing", "completed")


@dataclass
class History:
    status: dict  # work item id -> (start, end, status)
    attempts: dict  # failed block height -> attempts
    last: int  # decoded_indexer's last processed height


def queue_history(base: str, h0: int, counts: dict) -> History:
    """The queue logs of a worker that ran before this run, written
    under ``base`` (the ``IndexerAPI`` base path): ``counts[table]``
    appended files per table since its last compaction, one versioned
    row each, in the API's log layout. Work items below ``h0`` move
    through pending, processing and completed; a pool of failed blocks
    is retried; the indexed height climbs to ``h0 - 1``. Returns the
    FINAL state the logs hold."""
    hist = History({}, {}, 0)
    t0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
    pool = [h0 - 1 - 97 * k for k in range(8)]
    for table, n in counts.items():
        d = os.path.join(base, table)
        os.makedirs(d, exist_ok=True)
        for j in range(n):
            ts = t0 + timedelta(seconds=j)
            if table == "work_queue":
                item, st = 1_000_000 + j // 3, _LIFECYCLE[j % 3]
                s = h0 - 100 * (n // 3 + 1) + 100 * (j // 3)
                row = {"id": item, "start_height": s, "end_height": s + 99,
                       "status": st, "error_message": None,
                       "created_at": ts, "updated_at": ts}
                hist.status[item] = (s, s + 99, st)
            elif table == "failed_blocks":
                h = pool[j % len(pool)]
                hist.attempts[h] = hist.attempts.get(h, 0) + 1
                row = {"block_height": h, "error_type": "rpc",
                       "error_message": "synthetic failure",
                       "worker_id": "worker-0", "attempts": hist.attempts[h]}
            else:
                hist.last = h0 - n + j
                row = {"index_name": "decoded_indexer",
                       "last_processed_height": hist.last, "updated_at": ts}
            cols = {k: pa.array([row[k]], t)
                    for k, t in _LOG_COLUMNS[table].items()}
            cols["_version"] = pa.array([j + 1], pa.int64())
            cols["_deleted"] = pa.array([False])
            _write(os.path.join(d, f"part-history-{j:05d}.parquet"), cols)
    return hist


MONITOR_SQL = ("SELECT status, COUNT(*) as count, "
               "MIN(start_height) as min_height, "
               "MAX(end_height) as max_height "
               "FROM work_queue GROUP BY status ORDER BY status")


def queue_plan(seed: int, items: list[tuple[int, int]]) -> tuple[list, list]:
    """The orchestrator's and worker's ``IndexerAPI`` calls around the
    batches: ``split_range`` + ``insert_work_queue`` of one work item per
    batch height range; then, per item, the worker's claim before the
    batch and its completion, one failed block (from a small pool of
    heights, so retries bump ``attempts``) and the monitor reads after
    it. Returns (enqueue calls, [(before, after) calls per item])."""
    rng = np.random.default_rng([seed, 7])
    start, end = items[0][0], items[-1][1]
    bad_pool = start + rng.choice(end - start + 1, 8, replace=False)
    # the warm-up item is enqueued as is; the rest come from split_range
    enqueue = [("split_range", (items[1][0], end, len(items) - 1)),
               ("insert_work_queue", ([{"id": k, "start_height": s, "end_height": e}
                                       for k, (s, e) in enumerate(items)],))]
    per_item = []
    for k, (s, e) in enumerate(items):
        lo = start + int(rng.integers(0, end - start + 1))
        per_item.append((
            [("get_pending_work", (1,)),
             ("update_work_queue_status", (k, "processing"))],
            [("add_failed_block", (int(rng.choice(bad_pool)),
                                   str(rng.choice(["rpc", "decode", "timeout"])),
                                   "synthetic failure", "worker-1")),
             ("update_work_queue_status", (k, "completed")),
             ("update_last_indexed_height", ("decoded_indexer", e)),
             ("get_overlapping_ranges", (lo, lo + e - s)),
             ("count_work_queue", ("pending",)),
             ("get_last_indexed_height", ("decoded_indexer",)),
             ("pg_query", (MONITOR_SQL,))]))
    return enqueue, per_item
