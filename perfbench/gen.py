"""Seeded input generator for the benchmark.

Everything the benchmark feeds the program comes from here, derived
from one integer seed (same seed, same bytes):

* ``warehouse_drop`` — one large ODS drop for the composed warehouse:
  raw behaviour-log lines (start/page/display events plus malformed
  lines), the CDC changelog (facts, dims, deletes, an unknown table)
  and the ``table_process`` config, with a ground-truth summary.
* ``trickle_increment`` — the i-th small live increment (logs, one
  order chain, a periodic dim update), event times after the drop.
* ``registry_corpus`` — the ten registry tables (TPC-H-ish star schema,
  events, documents, embeddings) written as parquet.

The record shapes and edge cases follow the gmall fixtures: is_new
lies on next-day revisits, bounce timeouts, same-day revisits, order
details exactly at the +/-5 s join bound and just past it, payments at
+15 min (inside) and +16 min (outside), ~1 % dirty lines, CDC deletes,
rows of an unconfigured table, and user_info updates.
"""

from __future__ import annotations

import datetime as dt
import json
import random

BASE_TS = 1_600_000_000_000          # 2020-09-13 12:26:40 UTC
SECOND = 1_000
MINUTE = 60 * SECOND
DAY = 86_400_000
DROP_DAY = "20200913"
# live increments start six hours into the next day, after every
# next-day revisit of the drop, so no trickle event is late against it
TRICKLE_ET0 = BASE_TS + DAY + 6 * 3_600_000
LIVE_DAY = "20200914"                # the day of TRICKLE_ET0
JUMP_GAP = 11 * MINUTE               # past the 10 s bounce timeout

PAGES = ["home", "good_list", "good_detail", "cart", "trade", "payment"]
KEYWORDS = ["apple phone case", "red dress", "running shoes men",
            "apple watch band", "red running shoes", "phone holder",
            "wireless earbuds", "summer dress women"]
FACT_COLUMNS = {
    "order_info": "id,province_id,order_status,user_id,total_amount,"
                  "create_time",
    "order_detail": "id,order_id,sku_id,order_price,sku_num,sku_name,"
                    "create_time,split_total_amount",
    "payment_info": "id,order_id,user_id,total_amount,payment_type,"
                    "create_time",
    "favor_info": "id,user_id,sku_id,create_time",
    "cart_info": "id,user_id,sku_id,sku_num,create_time",
    "order_refund_info": "id,order_id,sku_id,refund_amount,create_time",
    "comment_info": "id,order_id,sku_id,appraise,create_time",
}
DIM_COLUMNS = {
    "sku_info": "id,sku_name,price,spu_id,category3_id,tm_id",
    "base_trademark": "id,tm_name",
    "user_info": "id,birthday,gender",
    "base_province": "id,name,area_code,iso_code,iso_3166_2",
    "spu_info": "id,spu_name",
    "base_category3": "id,name",
}
N_SKU, N_TM, N_SPU, N_C3, N_PROVINCE, N_USER = 5, 2, 2, 2, 2, 3


def _time(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def _cdc(table: str, typ: str, data: dict) -> dict:
    return {"database": "gmall2021", "table": table, "type": typ,
            "data": json.dumps(data), "before_data": "{}"}


def table_process_rows() -> list[dict]:
    """Config: facts -> fact topics, dims -> dim tables, and user_info
    updates routed to the same dim table as its inserts."""
    rows = [{"source_table": s, "operate_type": "insert",
             "sink_type": "kafka", "sink_table": f"dwd_{s}",
             "sink_columns": c, "sink_pk": "id", "sink_extend": None}
            for s, c in FACT_COLUMNS.items()]
    rows += [{"source_table": s, "operate_type": op,
              "sink_type": "hbase", "sink_table": f"dim_{s}",
              "sink_columns": c, "sink_pk": "id", "sink_extend": None}
             for s, c in DIM_COLUMNS.items()
             for op in (("insert", "update") if s == "user_info"
                        else ("insert",))]
    return rows


class Truth:
    """Ground-truth counters accumulated while records are generated."""

    def __init__(self) -> None:
        self.start = self.page = self.display = self.dirty = 0
        self.facts: dict[str, int] = {t: 0 for t in FACT_COLUMNS}
        self.order_wide = 0            # details inside the +/-5 s bound
        self.gmv_cents: dict[str, int] = {}


def _common(mid: int, is_new: str) -> dict:
    return {"mid": f"mid_{mid}", "uid": str(100 + mid % N_USER),
            "vc": f"v2.1.{mid % 3}",
            "ch": ["huawei", "xiaomi", "appstore", "oppo"][mid % 4],
            "ar": ["110000", "310000", "440000", "500000"][mid % 4],
            "ba": "brand", "md": "model", "os": "os13", "is_new": is_new}


def _session(rng: random.Random, mid: int, t: int, truth: Truth,
             lines: list[str], n_pages: int, gap: int) -> int:
    """A start event and a page walk for one mid; returns the last ts."""
    lines.append(json.dumps({
        "common": _common(mid, "1"),
        "start": {"entry": "icon", "loading_time": rng.randint(500, 3000),
                  "open_ad_id": 1, "open_ad_ms": 120, "open_ad_skip_ms": 0},
        "ts": t}))
    truth.start += 1
    last = None
    for i in range(n_pages):
        t += gap
        page_id = PAGES[(mid + i) % len(PAGES)]
        page = {"page_id": page_id, "last_page_id": last,
                "during_time": rng.randint(1000, 30_000)}
        if page_id == "good_detail":
            page["item"] = str(rng.randint(1, N_SKU))
            page["item_type"] = "sku_id"
        elif page_id == "good_list":
            page["item"] = rng.choice(KEYWORDS)
            page["item_type"] = "keyword"
        ev = {"common": _common(mid, "1" if mid % 4 == 0 else "0"),
              "page": page, "ts": t}
        if page_id in ("home", "good_list"):
            ev["displays"] = [
                {"item": str(rng.randint(1, N_SKU)), "item_type": "sku_id",
                 "order": k, "pos_id": k}
                for k in range(rng.randint(1, 4))]
            truth.display += len(ev["displays"])
        lines.append(json.dumps(ev))
        truth.page += 1
        last = page_id
    return t


def _revisit(mid: int, ts: int, is_new: str, truth: Truth,
             lines: list[str]) -> None:
    lines.append(json.dumps({
        "common": _common(mid, is_new),
        "page": {"page_id": "home", "last_page_id": None,
                 "during_time": 1500},
        "ts": ts}))
    truth.page += 1


def _order_chain(rng: random.Random, oid: int, order_ts: int,
                 truth: Truth, rows: list[dict],
                 offsets: list[int], pay_off: int | None) -> None:
    """order_info + its details (+ a payment): a detail joins when its
    offset is within +/-5 s of the order."""
    details = []
    for j, off in enumerate(offsets):
        cents = rng.randint(1_000, 50_000)
        details.append((oid * 10 + j, off, cents))
    total = sum(c for _, _, c in details)
    rows.append(_cdc("order_info", "insert", {
        "id": oid, "province_id": 1 + oid % N_PROVINCE,
        "order_status": "1001", "user_id": 100 + oid % N_USER,
        "total_amount": total / 100, "create_time": _time(order_ts)}))
    truth.facts["order_info"] += 1
    day = _time(order_ts)[:10].replace("-", "")
    for did, off, cents in details:
        sku = 1 + (oid * 7 + did) % N_SKU
        rows.append(_cdc("order_detail", "insert", {
            "id": did, "order_id": oid, "sku_id": sku,
            "order_price": cents / 100, "sku_num": 1 + did % 3,
            "sku_name": f"sku {sku}", "create_time": _time(order_ts + off),
            "split_total_amount": cents / 100}))
        truth.facts["order_detail"] += 1
        if abs(off) <= 5 * SECOND:
            truth.order_wide += 1
            truth.gmv_cents[day] = truth.gmv_cents.get(day, 0) + cents
    if pay_off is not None:
        rows.append(_cdc("payment_info", "insert", {
            "id": 1_000_000 + oid, "order_id": oid,
            "user_id": 100 + oid % N_USER, "total_amount": total / 100,
            "payment_type": ["1101", "1102", "1103"][oid % 3],
            "create_time": _time(order_ts + pay_off)}))
        truth.facts["payment_info"] += 1


def _dirty(lines: list[str], every: int, truth: Truth) -> list[str]:
    out = []
    for i, line in enumerate(lines):
        if i % every == 0:
            out.append("not-a-json-record{{{")
            truth.dirty += 1
        out.append(line)
    return out


def warehouse_drop(seed: int, n_mids: int, n_orders: int
                   ) -> tuple[list[str], list[dict], Truth]:
    """The backfill drop: ``(log_lines, cdc_rows, truth)``.

    Sessions spread over ten hours of DROP_DAY; every 7th mid's walk
    times out between pages, every 5th bounces after one page, every
    3rd revisits the same day, every 2nd comes back the next day still
    claiming is_new=1."""
    rng = random.Random(seed)
    truth = Truth()
    lines: list[str] = []
    span = 10 * 3_600_000
    for mid in range(n_mids):
        t = BASE_TS + mid * span // n_mids + rng.randint(0, 999)
        n_pages = 1 if mid % 5 == 0 else rng.randint(2, 5)
        gap = JUMP_GAP if mid % 7 == 0 else 2 * SECOND
        _session(rng, mid, t, truth, lines, n_pages, gap)
        if mid % 3 == 0:
            _revisit(mid, t + 3_600_000, "0", truth, lines)
        if mid % 2 == 0:
            _revisit(mid, BASE_TS + DAY + mid * 1_000, "1", truth, lines)
    # a last page view (not a session entry) one minute after every
    # other event: its watermark times out every pending bounce inside
    # the drop, so no bounce surfaces later than its window
    lines.append(json.dumps({
        "common": _common(n_mids, "0"),
        "page": {"page_id": "cart", "last_page_id": "home",
                 "during_time": 1000},
        "ts": BASE_TS + DAY + n_mids * 1_000 + MINUTE}))
    truth.page += 1
    lines = _dirty(lines, 97, truth)

    rows: list[dict] = []
    for oid in range(1, n_orders + 1):
        order_ts = BASE_TS + oid * span // (n_orders + 1)
        # +5 s is inside the inclusive bound, -6 s / +60 s are outside
        offsets = [0, 5 * SECOND] if oid % 2 else [0, -6 * SECOND]
        if oid % 5 == 0:
            offsets.append(60 * SECOND)
        pay_off = (15 * MINUTE if oid % 3 else 16 * MINUTE) \
            if oid % 4 else None
        _order_chain(rng, oid, order_ts, truth, rows, offsets, pay_off)
        if oid % 3 == 0:
            t0 = order_ts + 20 * SECOND
            sku = 1 + oid % N_SKU
            rows.append(_cdc("favor_info", "insert", {
                "id": oid, "user_id": 100 + oid % N_USER, "sku_id": sku,
                "create_time": _time(t0)}))
            rows.append(_cdc("cart_info", "insert", {
                "id": oid, "user_id": 100 + oid % N_USER, "sku_id": sku,
                "sku_num": 1 + oid % 3, "create_time": _time(t0 + 1_000)}))
            truth.facts["favor_info"] += 1
            truth.facts["cart_info"] += 1
        if oid % 11 == 0:
            t0 = order_ts + 30 * MINUTE
            rows.append(_cdc("order_refund_info", "insert", {
                "id": oid, "order_id": oid, "sku_id": 1 + oid % N_SKU,
                "refund_amount": 19.9, "create_time": _time(t0)}))
            rows.append(_cdc("comment_info", "insert", {
                "id": oid, "order_id": oid, "sku_id": 1 + oid % N_SKU,
                "appraise": "1201" if oid % 2 else "1202",
                "create_time": _time(t0 + 10_000)}))
            truth.facts["order_refund_info"] += 1
            truth.facts["comment_info"] += 1
        if oid % 50 == 0:
            rows.append(_cdc("order_info", "delete", {"id": oid}))
            rows.append(_cdc("mystery_table", "insert", {"id": oid}))
    for sku in range(1, N_SKU + 1):
        rows.append(_cdc("sku_info", "insert", {
            "id": sku, "sku_name": f"sku {sku}", "price": 10 * sku,
            "spu_id": 1 + sku % N_SPU, "category3_id": 1 + sku % N_C3,
            "tm_id": 1 + sku % N_TM}))
    rows += [_cdc("base_trademark", "insert",
                  {"id": i, "tm_name": f"tm-{i}"})
             for i in range(1, N_TM + 1)]
    rows += [_cdc("spu_info", "insert", {"id": i, "spu_name": f"spu {i}"})
             for i in range(1, N_SPU + 1)]
    rows += [_cdc("base_category3", "insert",
                  {"id": i, "name": f"cat3_{i}"})
             for i in range(1, N_C3 + 1)]
    rows += [_cdc("base_province", "insert", {
                 "id": i, "name": f"province_{i}",
                 "area_code": str(110000 + i), "iso_code": f"CN-{i}",
                 "iso_3166_2": f"CN-P{i}"})
             for i in range(1, N_PROVINCE + 1)]
    rows += [_cdc("user_info", "insert", {
                 "id": u, "birthday": f"19{60 + u % 40}-0{1 + u % 9}-15",
                 "gender": "F" if u % 2 else "M"})
             for u in range(100, 100 + N_USER)]
    rng.shuffle(rows)
    return lines, rows, truth


def trickle_increment(seed: int, i: int, truth: Truth
                      ) -> tuple[list[str], list[dict]]:
    """Live increment ``i``: two short sessions of fresh mids and one
    order chain, ten seconds of event time after increment ``i - 1``
    (its events span 2.3 s, so none is late against the 1 s
    watermarks); every tenth increment also updates a user_info row."""
    rng = random.Random(seed * 1_000_003 + i)
    t = TRICKLE_ET0 + i * 10 * SECOND
    lines: list[str] = []
    for k in range(2):
        mid = 1_000_000 + 2 * i + k
        _session(rng, mid, t + k * 100, truth, lines, 2, 200)
    rows: list[dict] = []
    _order_chain(rng, 10_000_000 + i, t + 300, truth, rows, [0, 1_000],
                 2 * SECOND)
    if i % 25 == 0:
        u = 100 + i % N_USER
        rows.append(_cdc("user_info", "update", {
            "id": u, "birthday": "1990-01-01", "gender": "F"}))
    return lines, rows


# --------------------------------------------------------------- registry
_WORDS = ("scan column window order sort part agg value line key join "
          "merge group query a vector hash slow stream filter fast the "
          "batch spark table small data big customer row").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "red", "new", "cold", "hot", "small", "large", "old"]
_NOUN = ["widget", "bolt", "gear", "rod", "ring", "anvil", "valve", "pin"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "en", "fr", "es", "zh", "de"]


def registry_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables under ``out_dir`` (one parquet
    file each, the schemas the registry loaders expect) and return
    their row counts. Documents and embeddings keep a 500-row floor,
    as at the smallest standard scale."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    ts = pa.timestamp("us")
    day0 = np.datetime64("1995-01-01", "us")
    span_days = 6 * 365 + 212
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                       "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 200) / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord),
                                  pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": pa.array(
                day0 + rng.integers(0, span_days, n_ord).astype(
                    "timedelta64[D]"), ts),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line),
                                   pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line),
                                  pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line),
                                  pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line),
                                     pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(
                rng.uniform(900, 105_000, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": rng.choice(["N", "R", "A"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(
                day0 + rng.integers(1, span_days + 95, n_line).astype(
                    "timedelta64[D]"), ts)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86_400_000_000, n_evt).astype(
                    "timedelta64[us]")), ts),
            "user_id": pa.array(rng.integers(0, n_users, n_evt),
                                pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(80, n_evt) + 0.01, 2),
            "props": [json.dumps({"k": int(k)})
                      for k in rng.integers(0, 100, n_evt)]}),
    }
    texts = []
    for i in range(n_doc):
        words = list(rng.choice(_WORDS, int(rng.integers(8, 90))))
        if i % 17 == 0:
            words.append("dup")
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        "float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
