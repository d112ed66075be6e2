"""Untimed output checks. Each returns a list of (name, message) failures.

* batch: every panel query's result against DuckDB running the engine's
  own ``SparkEntry.oracleSql``, with the compare rules of
  ``tools/local_verify.py`` (imported, not copied);
* stream: the sessions the append-mode stream emitted against the same
  ``sessionCounts`` shape run as one batch query over every generated
  file, restricted to the sessions the final watermark has closed;
* cow: the final table and every read against an independent replay of
  the executed statement prefix.
"""
import glob
import importlib.util
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _local_verify(root):
    path = os.path.join(root, "tools", "local_verify.py")
    spec = importlib.util.spec_from_file_location("local_verify", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _read_dir(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def check_batch(root, data_dir, out_dir, names, registry):
    lv = _local_verify(root)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    failures = []
    for name in names:
        tbl = _read_dir(os.path.join(out_dir, name))
        sql = registry[name]["oracle"]
        if tbl is None:
            failures.append((name, "no output"))
            continue
        if sql is None:
            if tbl.num_rows == 0:
                failures.append((name, "no oracle and empty output"))
            continue
        nested = [f.name for f in tbl.schema if pa.types.is_nested(f.type)]
        if nested:
            failures.append((name, f"nested columns {nested} in gated output"))
            continue
        try:
            dtbl = con.execute(sql).arrow()
        except Exception as e:  # an oracle that cannot run is a failure
            failures.append((name, f"oracle error: {e}"))
            continue
        if hasattr(dtbl, "read_all"):
            dtbl = dtbl.read_all()
        sn, st, sr = lv.table_fingerprint(tbl)
        dn, dt, dr = lv.table_fingerprint(dtbl)
        if sn != dn:
            failures.append((name, f"columns spark={sn} duck={dn}"))
        elif st != dt:
            failures.append((name, f"column types spark={st} duck={dt}"))
        elif len(sr) != len(dr):
            failures.append((name, f"rows spark={len(sr)} duck={len(dr)}"))
        elif sr != dr:
            i = next(i for i in range(len(sr)) if sr[i] != dr[i])
            failures.append((name, f"first diff at row {i}: spark={sr[i]} duck={dr[i]}"))
    return failures


def check_stream(emitted, batch_rows, watermark_us):
    """``emitted`` and ``batch_rows`` are (user, start µs, end µs, n, sum)."""
    got = [tuple(r) for r in emitted]
    want = [tuple(r) for r in batch_rows if r[2] <= watermark_us]
    failures = [(f"session user={r[0]} start={r[1]}", "emitted more than once")
                for r in set(got) if got.count(r) > 1]
    g, w = set(got), set(want)
    failures += [(f"session user={r[0]} start={r[1]}",
                  "missing from stream" if r in w else "not in batch result")
                 for r in sorted(g ^ w)]
    return failures


def replay_cow(base, statements):
    """Independent replay: the table as {event_id: row} after each
    executed statement, and the expected result of each read."""
    rows = {r["event_id"]: (r["ts"], r["user_id"], r["event_type"], r["value"], r["props"])
            for r in base}
    reads = {}
    for i, s in enumerate(statements, start=1):
        kind = s["kind"]
        if kind in ("merge", "insert"):
            for r in s["upsert"]:
                rows[r["event_id"]] = (r["ts"], r["user_id"], r["event_type"], r["value"], r["props"])
        elif kind == "delete":
            for k in s["delete"]:
                rows.pop(k, None)
        elif kind in ("point", "range"):
            hit = [k for k in rows if s["lo"] <= k <= s["hi"]] if kind == "range" else \
                ([s["lo"]] if s["lo"] in rows else [])
            if hit:
                reads[i] = "%d,%d,%d" % (len(hit), sum(hit), sum(rows[k][1] for k in hit))
            else:
                reads[i] = "0,null,null"
    return rows, reads


def check_cow(base_events, statements, executed, results, final_dir):
    t = pq.read_table(base_events)
    base = t.set_column(1, "ts", t.column("ts").cast(pa.int64())).to_pylist()
    rows, reads = replay_cow(base, statements[:executed])
    failures = []
    for i, got in results.items():
        if reads.get(i) != got:
            failures.append((f"stmt-{i}", f"read {got!r}, replay {reads.get(i)!r}"))
    final = _read_dir(final_dir)
    got = {r["event_id"]: (r["ts_us"], r["user_id"], r["event_type"], r["value"], r["props"])
           for r in final.to_pylist()} if final is not None else {}
    bad = [k for k in set(got) | set(rows) if got.get(k) != rows.get(k)]
    failures.extend((f"row event_id={k}", f"table {got.get(k)!r}, replay {rows.get(k)!r}")
                    for k in sorted(bad)[:50])
    if len(bad) > 50:
        failures.append(("rows", f"{len(bad) - 50} more mismatched rows"))
    return failures
