#!/usr/bin/env python3
"""Seeded, deterministic input generator for the perfbench workloads.

Everything the engine reads during a run is made here from the workload
seed, so the same seed gives byte-identical files:

  tables/<name>.parquet   the ten source tables (TESTDATA.md schemas) at
                          the sf0.01 corpus's row counts, read by
                          serve_reference and batch_curation
  stream/*.parquet        per-tick raw log JSON, Maxwell CDC envelopes and
                          the order_info / order_detail rows they carry,
                          fed to stream_ingest (FIXTURES.md 2.1 / 2.2)
  requests.json           serve_reference's request pool and the seeded
                          per-client request sequences

Usage: python3 perfbench/gen.py <out_dir> --seed N [--ticks T]
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Every size and share below is either measured on the test corpus
# (TESTDATA.md / FIXTURES.md section 1: seed 42, sf0.01 for the tables this
# script writes, sf0.1 for the rates) and says so, or is marked ASSUMED:
# the repository documents no source for it.

# tables: the row counts of the sf0.01 corpus
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENT_USERS, N_EVENTS, N_DOCS, N_EMB, EMB_DIM = 150, 10000, 500, 500, 64
EVENT_DAYS = 30                       # events.ts spans 30 days
EVENT_T0 = dt.datetime(2024, 1, 1)
ORDER_DAYS = 2404                     # o_orderdate 1995-01-01 .. 2001-08-01
# lineitem rows per order at sf0.1: count of orders with 1, 2, ... 17 lines
LINES_HIST = [11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959,
              818, 292, 93, 29, 10, 1, 2, 1]

# part.p_name is "<adjective> <noun>", 8 x 8 words, uniform at sf0.1
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# events.event_type: five types, 19.8-20.3% each at sf0.1
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
# documents.text at sf0.1: these 30 words, uniform; 10-100 tokens a doc;
# 5% of docs are a copy of another doc with the token "dup" appended
VOCAB = ("a the data table row column key value part hash join merge sort "
         "scan filter group agg window batch stream query order line "
         "customer spark vector fast slow big small").split()
DOC_TOKENS = (10, 100)
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.412, 0.148, 0.151, 0.140, 0.149]   # sf0.1 shares
N_SOURCES = 20

# stream_ingest traffic, one tick = one simulated hour of gmall traffic.
# Volume: sf0.1 events hold 100,000 rows over 30 days, 3,333 a day; a tick
# carries one corpus day of them (the ~3.3k-row tick the design was sized
# on), and orders at the same rate: 150,000 orders over ORDER_DAYS.
LOGS_PER_TICK = 3333
ORDERS_PER_TICK = round(150000 / ORDER_DAYS)          # 62
# devices: the 1,500 distinct events.user_id at sf0.1. Per-user event counts
# run 45-99 (quartiles 61 / 66 / 72), what uniform draws give: exponent 0.
DEVICES, DEVICE_ZIPF = 1500, 0.0
# log kinds from the event-type shares: signup -> start log, error -> page
# log with an err block, view -> page log with displays, click and
# purchase -> page log with actions
START_SHARE, ERR_SHARE, VIEW_SHARE = 0.203, 0.198, 0.199
# share of sf0.1 events that open a session (no event of the same user in
# the 30 minutes before): the page logs with last_page_id = null
ENTRY_SHARE = 0.955
# user dim = customer (FIXTURES.md role mapping): 15,000 at sf0.1;
# province dim = nation: 25
USERS, PROVINCES = 15000, 25
# ASSUMED, no source: duplicate deliveries of logs and of fact rows, the
# share of orders whose details arrive a tick before their header, dim
# changes per tick, and displays / actions per page log
LOG_DUP_SHARE, FACT_DUP_SHARE, EARLY_DETAIL_SHARE = 0.02, 0.03, 0.1
DIM_CHANGES_PER_TICK = 4
DISPLAYS, ACTIONS = (1, 4), (1, 3)
STREAM_T0 = dt.datetime(2024, 3, 1)

# serve_reference request space
POOL_PER_ROUTE, CLIENTS, SEQ_LEN = 4, 4, 4000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ms(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def gen_tables(rng: np.random.Generator, out: str) -> None:
    t = lambda name, cols: _write(pa.table(cols), f"{out}/tables/{name}.parquet")
    t("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]})
    t("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)],
                                         pa.int32())})
    t("customer", {
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in
                         rng.integers(0, len(SEGMENTS), N_CUSTOMER)]})
    t("supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2)})
    t("part", {
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[n]}" for a, n in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 1)})
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2404, N_ORDERS).astype("timedelta64[D]")
    t("orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in
                          rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(0, 5, N_ORDERS)]})
    lines = _lines_per_order(rng, N_ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n).astype(float)
    ship = np.repeat(odate, lines) + rng.integers(1, 120, n).astype(
        "timedelta64[D]")
    t("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    span_us = EVENT_DAYS * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, N_EVENTS)) + \
        np.datetime64(EVENT_T0, "us").astype(np.int64)
    t("events", {
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_EVENT_USERS, N_EVENTS),
                            pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0, 50, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    # corpus: random texts plus near-duplicates (a copy of an earlier doc
    # with "dup" appended), the shape of the test corpus
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.integers(0, len(VOCAB), k)))
    t("documents", {
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.standard_normal((N_EMB, EMB_DIM)).astype(np.float32)
    t("embeddings", {
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, N_EMB), pa.int32())})


def _lines_per_order(rng: np.random.Generator, n: int) -> np.ndarray:
    p = np.array(LINES_HIST, float)
    return rng.choice(len(p), n, p=p / p.sum()) + 1


def _device_weights() -> np.ndarray:
    w = 1.0 / np.arange(1, DEVICES + 1) ** DEVICE_ZIPF
    return w / w.sum()


def _log_record(rng, mid: int, hour0: int) -> str:
    common = {"ar": str(110000 + mid % PROVINCES), "uid": str(mid % USERS),
              "os": "Android 11", "ch": "xiaomi", "is_new": "0",
              "md": "Xiaomi 9", "mid": f"mid_{mid:05d}", "vc": "v2.1.134",
              "ba": "Xiaomi"}
    ts = hour0 + int(rng.integers(0, 3600 * 1000))
    r = rng.random()
    if r < START_SHARE:
        return json.dumps({"common": common, "start": {
            "entry": "icon", "loading_time": int(rng.integers(100, 5000)),
            "open_ad_id": str(int(rng.integers(1, 20))),
            "open_ad_ms": int(rng.integers(0, 5000)),
            "open_ad_skip_ms": 0}, "ts": ts}, separators=(",", ":"))
    entry = rng.random() < ENTRY_SHARE
    page = {"page_id": ["home", "good_detail", "cart", "search"][
                int(rng.integers(0, 4))],
            "last_page_id": None if entry else "home",
            "item": str(int(rng.integers(1, 100))), "item_type": "sku_id",
            "during_time": int(rng.integers(1000, 20000)),
            "source_type": "promotion"}
    rec = {"common": common, "page": page, "ts": ts}
    if r < START_SHARE + ERR_SHARE:
        rec["err"] = {"error_code": str(int(rng.integers(1000, 2000))),
                      "msg": "boom"}
    elif r < START_SHARE + ERR_SHARE + VIEW_SHARE:
        rec["displays"] = [{"pos_id": str(j), "item": str(
            int(rng.integers(1, 100))), "item_type": "sku_id",
            "display_type": "promotion", "order": str(j)}
            for j in range(int(rng.integers(*DISPLAYS)))]
    else:
        rec["actions"] = [{"action_id": "cart_add", "item": page["item"],
                           "item_type": "sku_id", "ts": ts + j}
                          for j in range(int(rng.integers(*ACTIONS)))]
    return json.dumps(rec, separators=(",", ":"))


def _cdc(table: str, op: str, ts_s: int, data: dict) -> str:
    return json.dumps({"database": "gmall", "table": table, "type": op,
                       "ts": ts_s, "data": json.dumps(
                           data, separators=(",", ":"))},
                      separators=(",", ":"))


def gen_stream(rng: np.random.Generator, out: str, ticks: int) -> None:
    """One tick = one simulated hour of gmall traffic."""
    wdev = _device_weights()
    logs, cdc, info, detail = [], [], [], []
    next_order, next_detail = 0, 0
    pending_cdc = []       # fact envelopes redelivered in the next tick
    late_info = []         # headers delivered one tick after their details
    redelivered = []       # details delivered again in the next tick
    for tick in range(ticks):
        hour0 = _ms(STREAM_T0) + tick * 3600 * 1000
        for mid in rng.choice(DEVICES, LOGS_PER_TICK, p=wdev):
            rec = _log_record(rng, int(mid), hour0)
            logs.append((tick, rec))
            if rng.random() < LOG_DUP_SHARE:
                logs.append((tick, rec))
        cdc.extend((tick, e) for e in pending_cdc)
        pending_cdc = []
        info.extend((tick,) + h for h in late_info)
        detail.extend((tick,) + d for d in redelivered)
        late_info, redelivered = [], []
        for _ in range(ORDERS_PER_TICK):
            oid, ts = next_order, hour0 + int(rng.integers(0, 3600 * 1000))
            next_order += 1
            uid = int(rng.integers(0, USERS))
            lines = []
            for _ in range(int(_lines_per_order(rng, 1)[0])):
                lines.append((next_detail, oid, int(rng.integers(0, N_PART)),
                              round(float(rng.uniform(5, 500)), 2),
                              int(rng.integers(1, 6)), ts + 1000))
                next_detail += 1
            total = round(sum(p * n for _, _, _, p, n, _ in lines), 2)
            header = (oid, uid, "1001", total, ts)
            env = [_cdc("order_info", "insert", ts // 1000, {
                "id": oid, "user_id": uid, "province_id": uid % PROVINCES,
                "total_amount": total, "order_status": "1001"})]
            env += [_cdc("order_detail", "insert", ts // 1000, {
                "id": d, "order_id": oid, "sku_id": s, "order_price": p,
                "sku_num": n}) for d, _, s, p, n, _ in lines]
            # some details arrive a tick before their header (never on the
            # last tick, whose successor is not fed)
            if tick + 1 < ticks and rng.random() < EARLY_DETAIL_SHARE:
                late_info.append(header)
            else:
                info.append((tick,) + header)
            for ln in lines:
                detail.append((tick,) + ln)
                if tick + 1 < ticks and rng.random() < FACT_DUP_SHARE:
                    redelivered.append(ln)
            cdc.extend((tick, e) for e in env)
            if tick + 1 < ticks:
                pending_cdc.extend(e for e in env
                                   if rng.random() < FACT_DUP_SHARE)
        # dims: inserts then last-wins updates; unknown ops / tables and
        # bootstrap-start markers are routed away by CdcRouter
        for j in range(DIM_CHANGES_PER_TICK):
            ts_s = hour0 // 1000 + 60 * j
            uid = int(rng.integers(0, USERS))
            op = ["insert", "update", "bootstrap-insert"][int(rng.integers(0, 3))]
            cdc.append((tick, _cdc("user_info", op, ts_s, {
                "id": uid, "gender": "FM"[uid % 2],
                "birthday": f"{1960 + int(rng.integers(0, 45))}-03-22",
                "rev": tick * 100 + j})))
            pid = int(rng.integers(0, PROVINCES))
            cdc.append((tick, _cdc("base_province", "update", ts_s, {
                "id": pid, "name": f"province_{pid}", "iso_code": f"CN-{pid}",
                "rev": tick * 100 + j})))
        cdc.append((tick, _cdc("order_info", "bootstrap-start",
                               hour0 // 1000, {})))
        cdc.append((tick, _cdc("payment_info", "insert", hour0 // 1000,
                               {"id": tick})))
        cdc.append((tick, _cdc("order_info", "maxwell-heartbeat",
                               hour0 // 1000, {"id": -1})))
    tick_col = lambda rows: pa.array([r[0] for r in rows], pa.int32())
    _write(pa.table({"tick": tick_col(logs), "value": [v for _, v in logs]}),
           f"{out}/stream/logs.parquet")
    _write(pa.table({"tick": tick_col(cdc), "value": [v for _, v in cdc]}),
           f"{out}/stream/cdc.parquet")
    _write(pa.table({
        "tick": tick_col(info),
        "order_id": pa.array([r[1] for r in info], pa.int64()),
        "user_id": pa.array([r[2] for r in info], pa.int64()),
        "order_status": [r[3] for r in info],
        "total_amount": [r[4] for r in info],
        "ts": pa.array([r[5] for r in info], pa.timestamp("ms", tz="UTC"))}),
        f"{out}/stream/order_info.parquet")
    _write(pa.table({
        "tick": tick_col(detail),
        "detail_id": pa.array([r[1] for r in detail], pa.int64()),
        "detail_order_id": pa.array([r[2] for r in detail], pa.int64()),
        "sku_id": pa.array([r[3] for r in detail], pa.int64()),
        "order_price": [r[4] for r in detail],
        "sku_num": pa.array([r[5] for r in detail], pa.int64()),
        "ts": pa.array([r[6] for r in detail], pa.timestamp("ms", tz="UTC"))}),
        f"{out}/stream/order_detail.parquet")


def gen_requests(rng: np.random.Generator, out: str) -> None:
    """The seeded request pool, POOL_PER_ROUTE per route, and one request
    sequence per closed-loop client: the routes in turn (so every window
    holds them in equal thirds), each request's parameters drawn from that
    route's part of the pool with Zipf skew."""
    days = [(EVENT_T0 + dt.timedelta(days=int(d))).strftime("%Y-%m-%d")
            for d in rng.choice(EVENT_DAYS, POOL_PER_ROUTE, replace=False)]
    words = ADJ + NOUN
    wz = 1.0 / np.arange(1, len(words) + 1) ** 1.1
    item = lambda: words[int(rng.choice(len(words), p=wz / wz.sum()))]
    pool = [f"/dauRealtime?td={d}" for d in days]
    pool += [f"/statsByItem?itemName={item()}&t={['segment', 'nation'][i % 2]}"
             for i in range(POOL_PER_ROUTE)]
    pool += [f"/detailByItem?itemName={item()}&pageNo={int(rng.integers(1, 6))}"
             f"&pageSize=20" for _ in range(POOL_PER_ROUTE)]
    rank = 1.0 / np.arange(1, POOL_PER_ROUTE + 1) ** 0.8
    rank /= rank.sum()
    seqs = []
    for c in range(CLIENTS):
        pick = rng.choice(POOL_PER_ROUTE, SEQ_LEN, p=rank)
        seqs.append([int(((c + i) % 3) * POOL_PER_ROUTE + p)
                     for i, p in enumerate(pick)])
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/requests.json", "w") as f:
        json.dump({"pool": pool, "clients": seqs}, f)


def generate(out: str, seed: int, ticks: int) -> None:
    # independent streams per artifact, so changing one generator's draws
    # never shifts another's inputs
    ss = np.random.SeedSequence(seed).spawn(3)
    gen_tables(np.random.default_rng(ss[0]), out)
    gen_stream(np.random.default_rng(ss[1]), out, ticks)
    gen_requests(np.random.default_rng(ss[2]), out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ticks", type=int, default=40)
    a = ap.parse_args()
    generate(a.out, a.seed, a.ticks)
