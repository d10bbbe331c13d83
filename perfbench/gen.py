"""Seeded input generator for the graft benchmark.

Every input a workload sees is produced here from `--seed`; the same seed
gives byte-identical files. Each workload gets its own directory with a
`manifest.json` that carries what the generator planted (expected counts,
expected final states, live-data byte sizes), so the benchmark can check
the engine's answers without trusting the engine.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01

# Sizes. The relational tables follow the TPC-H-like shape of the engine's
# test data at scale factor SF (lineitem = 6e6 * SF rows).
SF = 0.01
# ETL: each round loads the initial snapshot and ETL_DAYS deltas; the first
# ETL_WARMUP deltas of round 1 warm the merge path up (loaded and checked
# like the rest, not measured).
ETL_ORDERS0, ETL_DAYS, ETL_WARMUP, ETL_DELTA = 1500, 2, 1, 150
CUR_BASE, CUR_BENCH, CUR_BATCHES, CUR_BATCH = 240, 6, 1, 24
ANN_BASE, ANN_DIM, ANN_LABELS, ANN_BATCHES, ANN_BATCH, ANN_QUERIES = 2000, 64, 10, 2, 100, 20


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(days):
    return pa.array(np.asarray(days, dtype=np.int64) * US_PER_DAY, type=pa.timestamp("us"))


def _text(rng, lo, hi):
    n = int(rng.integers(lo, hi))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


# ---------------------------------------------------------------- sql_analytics
def gen_sql(rng, out):
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev, n_doc, n_emb = (int(1_500_000 * SF), int(6_000_000 * SF),
                                       int(1_000_000 * SF), int(50_000 * SF), int(50_000 * SF))
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({"c_custkey": pa.array(range(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]}),
           f"{out}/customer.parquet")
    _write(pa.table({"s_suppkey": pa.array(range(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
           f"{out}/supplier.parquet")
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    _write(pa.table({"p_partkey": pa.array(range(n_part), pa.int64()),
                     "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                     "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                     "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
                     "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                     "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
           f"{out}/part.parquet")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(pa.table({"o_orderkey": pa.array(range(n_ord), pa.int64()),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                     "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
                     "o_totalprice": _money(rng, 1000, 500000, n_ord),
                     "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord)),
                     "o_orderpriority": [prios[i] for i in rng.integers(0, 5, n_ord)]}),
           f"{out}/orders.parquet")
    _write(pa.table({"l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 105000, n_li),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
                     "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
                     "l_shipdate": _ts(EPOCH_1995 + 1 + rng.integers(0, 2498, n_li))}),
           f"{out}/lineitem.parquet")
    evts = ["click", "view", "purchase", "signup", "error"]
    ts = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False)) + EPOCH_2024 * US_PER_DAY
    _write(pa.table({"event_id": pa.array(range(n_ev), pa.int64()),
                     "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
                     "event_type": [evts[i] for i in rng.integers(0, 5, n_ev)],
                     "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
                     "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]}),
           f"{out}/events.parquet")
    _write(_documents(rng, 0, n_doc), f"{out}/documents.parquet")
    vecs, labels = _clustered(rng, n_emb, ANN_DIM, ANN_LABELS)
    _write(_emb_table(np.arange(n_emb), vecs, labels), f"{out}/embeddings.parquet")
    return {"tables": ["region", "nation", "customer", "supplier", "part", "orders",
                       "lineitem", "events", "documents", "embeddings"], "sf": SF}


def _documents(rng, first_id, n):
    texts = [_text(rng, 8, 90) for _ in range(n)]
    return pa.table({"doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
                     "text": texts,
                     "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
                     "source": [f"src{i % 20}" for i in range(first_id, first_id + n)],
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _clustered(rng, n, dim, k, centers=None):
    if centers is None:
        centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] + 0.35 * rng.normal(size=(n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True), labels


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb,
                     "label": pa.array(labels, pa.int32())})


# -------------------------------------------------------------- etl_incremental
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
LINE_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
             "l_extendedprice", "l_discount", "l_shipdate"]
KEYS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}
PRICE_COL = {"orders": 3, "lineitem": 4}  # o_totalprice, l_extendedprice


def _order_row(rng, key):
    return [key, int(rng.integers(0, 1500)), ["F", "O", "P"][int(rng.integers(0, 3))],
            f"{rng.integers(100000, 50000000) / 100:.2f}",
            str(np.datetime64("1995-01-01") + int(rng.integers(0, 2400))),
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][int(rng.integers(0, 5))]]


def _line_row(rng, okey, ln):
    return [okey, ln, int(rng.integers(0, 2000)), f"{rng.integers(1, 51)}.00",
            f"{rng.integers(90000, 10500000) / 100:.2f}", f"{rng.integers(0, 11) / 100:.2f}",
            str(np.datetime64("1995-01-02") + int(rng.integers(0, 2490)))]


def _csv(cols, rows):
    return ",".join(cols) + "\n" + "".join(
        ",".join("" if v is None else str(v) for v in r) + "\n" for r in rows)


def _state_digest(state, price_col):
    """What a reader of one committed version must see: row count, sum of the
    first key column, and the exact sum of the price column in cents."""
    return {"rows": len(state), "key_sum": int(sum(k[0] for k in state)),
            "cents_sum": int(sum(round(float(r[price_col]) * 100) for r in state.values()))}


def gen_etl(rng, out):
    snaps = []  # (folder, table, rows, planted nulls, planted dups)
    state = {"orders": {}, "lineitem": {}}
    next_order = ETL_ORDERS0

    def lines_for(okeys):
        # 1 to 5 lines an order, in a seeded order: every seed loads the same
        # number of rows, so only the contents vary between seeds
        counts = rng.permutation(np.resize(np.arange(1, 6), len(okeys)))
        return [_line_row(rng, k, ln) for k, n in zip(okeys, counts) for ln in range(1, n + 1)]

    base_orders = [_order_row(rng, k) for k in range(ETL_ORDERS0)]
    base_lines = lines_for(range(ETL_ORDERS0))
    folders = ["20250101_000000"] + [f"202501{d + 1:02d}_060000" for d in range(1, ETL_DAYS + 1)]
    for folder, day in zip(folders, range(ETL_DAYS + 1)):
        if day == 0:
            files = {"orders": (base_orders, 0, 0), "lineitem": (base_lines, 0, 0)}
        else:
            files = {}
            upd_keys = rng.choice(next_order, ETL_DELTA // 3, replace=False)
            new_keys = list(range(next_order, next_order + ETL_DELTA - len(upd_keys)))
            next_order += len(new_keys)
            o_rows = [_order_row(rng, int(k)) for k in upd_keys] + \
                     [_order_row(rng, k) for k in new_keys]
            l_rows = lines_for(new_keys)
            for k in upd_keys[: len(upd_keys) // 2]:  # revised lines of old orders
                l_rows.append(_line_row(rng, int(k), 1))
            for table, rows in (("orders", o_rows), ("lineitem", l_rows)):
                n_null, n_dup = 4, 4
                # null rows carry fresh keys that never load; dups are exact copies
                null_rows = []
                for i in range(n_null):
                    if table == "orders":
                        r = _order_row(rng, 10_000_000 + day * 1000 + i)
                    else:
                        r = _line_row(rng, 10_000_000 + day * 1000 + i, 1)
                    r[int(rng.integers(1, len(r)))] = None
                    null_rows.append(r)
                dups = [list(rows[int(i)]) for i in rng.choice(len(rows), n_dup, replace=False)]
                mixed = rows + null_rows + dups
                order = rng.permutation(len(mixed))
                files[table] = ([mixed[i] for i in order], n_null, n_dup)
        for table, (rows, n_null, n_dup) in files.items():
            os.makedirs(f"{out}/ingest/{folder}", exist_ok=True)
            cols = ORDER_COLS if table == "orders" else LINE_COLS
            with open(f"{out}/ingest/{folder}/{table}.csv", "w") as f:
                f.write(_csv(cols, rows))
            nk = len(KEYS[table])
            for r in rows:
                if all(v is not None for v in r):
                    state[table][tuple(r[:nk])] = r
            d = _state_digest(state[table], PRICE_COL[table])
            snaps.append({"folder": folder, "table": table, "version": int(folder.replace("_", "")),
                          "input_rows": len(rows), "null_rows": n_null, "dup_rows": n_dup,
                          "curated_rows": d["rows"], "key_sum": d["key_sum"],
                          "cents_sum": d["cents_sum"]})
    # a late snapshot older than every delta: its first submit passes the FIFO
    # dedup (new dedup id) and must stop at the strict-`>` version gate
    late = "20250101_120000"
    os.makedirs(f"{out}/late/{late}", exist_ok=True)
    with open(f"{out}/late/{late}/orders.csv", "w") as f:
        f.write(_csv(ORDER_COLS, [_order_row(rng, k) for k in range(20)]))
    # the final curated state, for a full-content comparison after the last load
    os.makedirs(f"{out}/expected", exist_ok=True)
    for table, st in state.items():
        cols = ORDER_COLS if table == "orders" else LINE_COLS
        with open(f"{out}/expected/{table}.csv", "w") as f:
            f.write(_csv(cols, [st[k] for k in sorted(st)]))
    live = {t: sum(len(",".join(str(v) for v in r)) + 1 for r in s.values())
            for t, s in state.items()}
    return {"snapshots": snaps, "late": f"late/{late}/orders.csv", "keys": KEYS,
            "warmup_days": ETL_WARMUP, "live_bytes": live}


# ------------------------------------------------------------- curation_batches
def _edit(rng, text, n_edits):
    w = text.split(" ")
    for _ in range(n_edits):
        w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
    return " ".join(w)


def gen_curation(rng, out):
    base = _documents(rng, 0, CUR_BASE)
    rows = base.to_pylist()
    # a crawl holds near-duplicates of itself: every 8th doc re-posts an
    # earlier one with one word changed
    for i in range(8, CUR_BASE, 8):
        src = rows[int(rng.integers(0, i))]
        t = _edit(rng, src["text"], 1)
        rows[i] = dict(rows[i], text=t, n_chars=len(t))
    base = pa.Table.from_pylist(rows, schema=base.schema)
    corpus = {r["doc_id"]: r for r in rows}
    bench = [_text(rng, 30, 60) for _ in range(CUR_BENCH)]
    _write(base, f"{out}/base.parquet")
    _write(pa.table({"text": bench}), f"{out}/bench.parquet")
    next_id, batches = 1_000_000, []
    for b in range(CUR_BATCHES):
        rows = []
        q = CUR_BATCH // 4
        for _ in range(q):  # fresh docs
            rows.append(_documents(rng, next_id, 1).to_pylist()[0]); next_id += 1
        for _ in range(q):  # edited near-dup copies under new ids
            src = corpus[int(rng.choice(list(corpus)))]
            t = _edit(rng, src["text"], 1 + int(rng.integers(0, 2)))
            rows.append({"doc_id": next_id, "text": t, "lang": src["lang"],
                         "source": f"src{next_id % 20}", "n_chars": len(t)}); next_id += 1
        olds = rng.choice(sorted(d for d in corpus if d < 1_000_000), q, replace=False)
        for d in olds:  # re-uploaded ids with revised text
            src = corpus[int(d)]
            t = src["text"] + " " + _text(rng, 3, 12)
            rows.append(dict(src, text=t, n_chars=len(t)))
        for _ in range(CUR_BATCH - 3 * q):  # docs quoting benchmark text
            bt = bench[int(rng.integers(0, len(bench)))].split(" ")
            s = int(rng.integers(0, len(bt) - 16))
            t = _text(rng, 5, 20) + " " + " ".join(bt[s:s + 16]) + " " + _text(rng, 5, 20)
            rows.append({"doc_id": next_id, "text": t, "lang": "en",
                         "source": f"src{next_id % 20}", "n_chars": len(t)}); next_id += 1
        for r in rows:
            corpus[r["doc_id"]] = r
        tbl = pa.Table.from_pylist(rows, schema=base.schema)
        _write(tbl, f"{out}/batch{b}.parquet")
        batches.append({"file": f"batch{b}.parquet", "docs": len(rows),
                        "text_bytes": sum(len(r["text"]) for r in rows)})
    live = sum(len(r["text"]) for r in corpus.values())
    return {"batches": batches, "base_docs": CUR_BASE, "final_docs": len(corpus),
            "live_bytes": live}


# -------------------------------------------------------------------- vector_ann
def _rotation(rng, dim):
    q, r = np.linalg.qr(rng.normal(size=(dim, dim)))
    return q * np.sign(np.diag(r))


def gen_ann(rng, out):
    centers = rng.normal(size=(ANN_LABELS, ANN_DIM))
    vecs, labels = _clustered(rng, ANN_BASE, ANN_DIM, ANN_LABELS, centers)
    rot = _rotation(rng, ANN_DIM)  # norm-preserving: unit vectors stay unit
    _write(_emb_table(np.arange(ANN_BASE), vecs @ rot, labels), f"{out}/base.parquet")
    qv, ql = _clustered(rng, ANN_QUERIES, ANN_DIM, ANN_LABELS, centers)
    _write(_emb_table(np.arange(10_000_000, 10_000_000 + ANN_QUERIES), qv @ rot, ql),
           f"{out}/queries.parquet")
    batches, next_id = [], ANN_BASE
    for b in range(ANN_BATCHES):
        n_new = ANN_BATCH - ANN_BATCH // 5
        v, lab = _clustered(rng, ANN_BATCH, ANN_DIM, ANN_LABELS, centers)
        if b == ANN_BATCHES - 1:  # the drifted batch: mass moves to a new region
            v = v + 2.5 * rng.normal(size=(1, ANN_DIM))
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
        # a fifth re-uploads existing ids with new vectors
        ids = np.concatenate([np.arange(next_id, next_id + n_new),
                              rng.choice(ANN_BASE, ANN_BATCH - n_new, replace=False)])
        next_id += n_new
        _write(_emb_table(ids, v @ rot, lab), f"{out}/batch{b}.parquet")
        batches.append({"file": f"batch{b}.parquet", "vectors": ANN_BATCH,
                        "drifted": b == ANN_BATCHES - 1})
    live = (next_id) * ANN_DIM * 4
    return {"batches": batches, "dim": ANN_DIM, "base_vectors": ANN_BASE,
            "queries": ANN_QUERIES, "final_vectors": int(next_id), "live_bytes": live}


GENERATORS = {"sql_analytics": gen_sql, "etl_incremental": gen_etl,
              "curation_batches": gen_curation, "curation_ledger": gen_curation,
              "vector_ann": gen_ann,
              "ledger_no_edges": gen_curation}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out` (created fresh)."""
    os.makedirs(out, exist_ok=True)
    # one stream per workload so adding a table to one never shifts another
    key = int(hashlib.sha256(f"{workload}:{seed}".encode()).hexdigest()[:15], 16)
    manifest = GENERATORS[workload](np.random.default_rng(key), out)
    manifest.update({"workload": workload, "seed": seed})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
