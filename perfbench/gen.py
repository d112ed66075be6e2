"""Seeded input generation for the benchmark.

Everything the program receives is made here from ``--seed``:

* ``make_fixture``: the ten fixture tables (TPC-H-ish star schema, events,
  documents, embeddings) with the shapes and value distributions of the
  repository's sf0.1 fixture, at any scale factor.
* ``stream_file``: the event files the ``stream_live`` generator appends.
* ``cow_statements``: the row-level statement sequence of ``cow_upsert``.

The same seed gives byte-identical files (numpy's PCG64 stream, fixed
parquet writer options, no pandas metadata).
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime.datetime(1970, 1, 1)
DAY_US = 86_400_000_000
MINUTE_US = 60_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64

# sf0.1 row counts of the fixture this generator mirrors; other tables
# (region, nation) are fixed dimensions.
ROWS_AT_SF01 = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
                "orders": 150_000, "lineitem": 600_000, "events": 100_000,
                "documents": 5_000, "embeddings": 2_000}
# Users stay at 1,500 whatever the scale: per-user history grows with sf.
EVENT_USERS = 1_500


def _us(y, m, d):
    return int((datetime.datetime(y, m, d) - EPOCH).total_seconds()) * 1_000_000


def _rows(table, sf):
    return max(int(round(ROWS_AT_SF01[table] * sf / 0.1)), 10)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days_ts(rng, start, end, n):
    days = rng.integers(0, (end - start) // DAY_US + 1, n)
    return pa.array(start + days * DAY_US, pa.timestamp("us"))


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", store_schema=False)


def events_table(rng, n, start_us, span_us, first_id=0):
    """``n`` events with unique, id-ordered µs timestamps in
    [start_us, start_us + span_us): uniform users and types,
    exponential values (mean 50, cents), ``{"k": 0..99}`` props."""
    ts = np.unique(rng.integers(0, span_us, n + n // 10 + 16))
    ts = np.sort(rng.choice(ts, n, replace=False)) + start_us
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n, dtype=np.int64)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(np.char.mod('{"k": %d}', rng.integers(0, 100, n)).astype(object),
                          pa.string()),
    })


def _documents(rng, n):
    texts = []
    lengths = rng.integers(10, 101, n)
    near_dup = rng.random(n) < 0.05
    for i in range(n):
        if near_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, VOCAB, int(lengths[i]))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.reshape(-1)), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def make_fixture(out_dir, seed, sf=0.1, tables=None):
    """Write the fixture tables (all ten, or the named ones) as
    ``<out_dir>/<table>.parquet``. Every table draws from its own stream,
    so a subset is identical to the same tables of the full set."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = _rows("customer", sf), _rows("supplier", sf), _rows("part", sf)
    n_ord, n_line = _rows("orders", sf), _rows("lineitem", sf)

    def region(rng):
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string())})

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array(["NATION_%d" % i for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    def customer(rng):
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array(np.char.mod("Customer#%09d", np.arange(n_cust)).astype(object),
                               pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())})

    def supplier(rng):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array(np.char.mod("Supplier#%09d", np.arange(n_supp)).astype(object),
                               pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})

    def part(rng):
        pk = np.arange(n_part, dtype=np.int64)
        names = [a + " " + b for a, b in zip(_pick(rng, PART_ADJ, n_part),
                                             _pick(rng, PART_NOUN, n_part))]
        return pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(np.char.mod("Brand#%d", rng.integers(1, 26, n_part)).astype(object),
                                pa.string()),
            "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})

    def orders(rng):
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(_pick(rng, ORDER_STATUS, n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days_ts(rng, _us(1995, 1, 1), _us(2001, 8, 1), n_ord),
            "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string())})

    def lineitem(rng):
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(_pick(rng, RETURN_FLAGS, n_line), pa.string()),
            "l_linestatus": pa.array(_pick(rng, LINE_STATUS, n_line), pa.string()),
            "l_shipdate": _days_ts(rng, _us(1995, 1, 2), _us(2001, 11, 4), n_line)})

    def events(rng):
        return events_table(rng, _rows("events", sf), _us(2024, 1, 1), 30 * DAY_US)

    def documents(rng):
        return _documents(rng, _rows("documents", sf))

    def embeddings(rng):
        return _embeddings(rng, _rows("embeddings", sf))

    builders = [region, nation, customer, supplier, part, orders, lineitem, events,
                documents, embeddings]
    names = []
    for k, build in enumerate(builders):
        if tables is None or build.__name__ in tables:
            t = build(np.random.default_rng([seed, 1, k]))
            write_parquet(t, os.path.join(out_dir, build.__name__ + ".parquet"))
            names.append(build.__name__)
    return names


# ---- stream_live ---------------------------------------------------------

STREAM_ROWS_PER_FILE = 500
STREAM_STEP_US = 10 * MINUTE_US   # event time advanced per file
STREAM_LATE_SHARE = 0.05          # share of events delivered one file late
STREAM_LATE_MAX_US = 8 * MINUTE_US  # always inside the 10-minute watermark


def stream_file(seed, index):
    """Event file ``index`` of the live stream, in the replay wire form
    (``ts`` as epoch µs). File i covers event time
    [i·step, (i+1)·step) after 2024-01-01; a seeded share of its rows is
    held back from file i-1 with ts at most 8 minutes behind that file's
    newest event, so out-of-order rows stay inside the watermark."""
    rng = np.random.default_rng([seed, 2, index])
    base = _us(2024, 1, 1) + index * STREAM_STEP_US
    t = events_table(rng, STREAM_ROWS_PER_FILE, base, STREAM_STEP_US,
                     first_id=index * STREAM_ROWS_PER_FILE)
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    if index > 0:
        # Late rows: re-stamped into the previous file's last 8 minutes.
        late = rng.random(len(ts)) < STREAM_LATE_SHARE
        ts = ts.copy()
        ts[late] = base - rng.integers(1, STREAM_LATE_MAX_US, int(late.sum()))
    return t.set_column(1, "ts", pa.array(ts, pa.int64()))


def write_stream_file(seed, index, directory, name):
    write_parquet(stream_file(seed, index), os.path.join(directory, name))


# ---- cow_upsert ----------------------------------------------------------

COW_BASE_FILES = 8          # ts-ordered slices the table is built from
COW_MAINTENANCE_EVERY = 12   # commits between optimize + expire_snapshots
# Statement kinds follow a fixed cycle, so every run's prefix has the same
# mix whatever the seed (the seed draws keys and values); writes are mostly
# MERGE upserts, so the write median sits inside them.
COW_CYCLE = ["merge", "point", "merge", "range", "merge", "delete", "merge", "point",
             "insert", "point"]


def _row_sql(r):
    return "(%dL, TIMESTAMP_MICROS(%dL), %dL, '%s', %rD, '%s')" % (
        r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"], r["props"])


def _row_bytes(r):
    return 8 * 4 + len(r["event_type"]) + len(r["props"])


def cow_statements(seed, n, base_rows):
    """The seeded statement sequence over a table holding the fixture's
    ``base_rows`` events (event ids 0..base_rows-1, in ts order). Each
    entry carries its SQL (with ``{t}`` for the table name), its kind, the
    bytes of submitted change rows, and enough of its effect for an
    independent replay."""
    rng = np.random.default_rng([seed, 4])
    keys = list(range(base_rows))                 # live keys, insertion order
    live = set(keys)
    next_id = base_rows
    t_max = _us(2024, 1, 31)
    out, commits, user = [], 0, 0

    def recent_key():
        # Favour recent keys: the newest tenth of the live key list.
        while True:
            k = keys[len(keys) - 1 - int(rng.integers(0, max(len(keys) // 10, 1)))]
            if k in live:
                return k

    def new_row(eid):
        return {"event_id": eid, "ts": t_max + eid, "user_id": int(rng.integers(0, EVENT_USERS)),
                "event_type": EVENT_TYPES[int(rng.integers(0, 5))],
                "value": float(np.round(rng.exponential(50.0), 2)),
                "props": '{"k": %d}' % int(rng.integers(0, 100))}

    while len(out) < n:
        kind = COW_CYCLE[user % len(COW_CYCLE)]
        user += 1
        if kind == "merge":
            rows = []
            for eid in sorted({recent_key() for _ in range(16)}):
                r = new_row(eid)
                r["ts"] = t_max - eid
                rows.append(r)
            for _ in range(4):
                rows.append(new_row(next_id))
                next_id += 1
            sql = ("MERGE INTO {t} t USING (SELECT * FROM VALUES %s AS "
                   "s(event_id, ts, user_id, event_type, value, props)) s "
                   "ON t.event_id = s.event_id "
                   "WHEN MATCHED THEN UPDATE SET ts = s.ts, user_id = s.user_id, "
                   "event_type = s.event_type, value = s.value, props = s.props "
                   "WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, event_type, value, props) "
                   "VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)"
                   ) % ", ".join(_row_sql(r) for r in rows)
            out.append({"kind": "merge", "sql": sql, "upsert": rows,
                        "change_bytes": sum(_row_bytes(r) for r in rows)})
        elif kind == "insert":
            rows = [new_row(next_id + i) for i in range(20)]
            next_id += 20
            sql = "INSERT INTO {t} VALUES %s" % ", ".join(_row_sql(r) for r in rows)
            out.append({"kind": "insert", "sql": sql, "upsert": rows,
                        "change_bytes": sum(_row_bytes(r) for r in rows)})
        elif kind == "delete":
            ks = sorted({recent_key() for _ in range(5)})
            sql = "DELETE FROM {t} WHERE event_id IN (%s)" % ", ".join("%dL" % k for k in ks)
            out.append({"kind": "delete", "sql": sql, "delete": ks,
                        "change_bytes": 8 * len(ks)})
        elif kind == "point":
            k = recent_key() if rng.random() < 0.7 else keys[int(rng.integers(0, len(keys)))]
            out.append({"kind": "point", "lo": k, "hi": k,
                        "sql": "SELECT count(*), sum(event_id), sum(user_id) FROM {t} "
                               "WHERE event_id = %dL" % k})
            continue
        else:
            lo = int(rng.integers(0, next_id))
            hi = lo + int(rng.integers(100, 2000))
            out.append({"kind": "range", "lo": lo, "hi": hi,
                        "sql": "SELECT count(*), sum(event_id), sum(user_id) FROM {t} "
                               "WHERE event_id BETWEEN %dL AND %dL" % (lo, hi)})
            continue
        for r in out[-1].get("upsert", []):
            if r["event_id"] not in live:
                live.add(r["event_id"])
                keys.append(r["event_id"])
        for k in out[-1].get("delete", []):
            live.discard(k)
        commits += 1
        if commits % COW_MAINTENANCE_EVERY == 0 and len(out) < n:
            out.append({"kind": "maintenance", "sql": None})
    return out


def write_cow_statements(path, seed, n, base_rows):
    with open(path, "w") as f:
        json.dump(cow_statements(seed, n, base_rows), f)
