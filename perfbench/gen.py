"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory and writes the
same bytes for the same seed (numpy's PCG64 stream plus fixed
formatting). Each returns a small dict describing what it wrote; the
checks in check.py recompute everything they need from the files
themselves, not from that dict.

Run directly to generate one workload's inputs:

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# warehouse_stream: app-log JSON lines, one file per micro-batch. File i covers event time [T0 + i*SLICE_S, T0 + (i+1)*SLICE_S)
# and its lines are shuffled, so disorder stays inside one batch: no row
# is ever behind the previous batch's watermark.
# ---------------------------------------------------------------------------

T0_MS = 1704153540000            # 2024-01-01T23:59:00Z: day 2 starts at file 6
SLICE_S = 10                     # one 10 s window per file
STREAM_FILES = 32
LOG_LINES_PER_FILE = 1000
DEVICES = 400
DIRTY_SHARE = 0.01
PAGES = ["home", "good_list", "good_detail", "cart", "trade", "payment",
         "mine", "search"]
KEYWORD_VOCAB = ["hash", "join", "table", "scan", "group", "value", "phone",
                 "shoe", "red", "cheap", "spark", "stream"]


def _zipf_ids(rng, n, size, a=1.2):
    """Zipf-skewed ids in [0, n): a few hot devices, a long tail."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    return rng.choice(n, size=size, p=p)


def gen_stream(seed, out):
    rng = np.random.default_rng(seed)
    log_dir = os.path.join(out, "log")
    os.makedirs(log_dir)
    claims_new = rng.random(DEVICES) < 0.3
    for i in range(STREAM_FILES):
        lo = T0_MS + i * SLICE_S * 1000
        ts = np.sort(lo + rng.integers(0, SLICE_S * 1000, LOG_LINES_PER_FILE))
        mids = _zipf_ids(rng, DEVICES, LOG_LINES_PER_FILE)
        kinds = rng.random(LOG_LINES_PER_FILE)
        dirty = rng.random(LOG_LINES_PER_FILE) < DIRTY_SHARE
        lines = []
        for j in range(LOG_LINES_PER_FILE):
            mid = int(mids[j])
            common = {"mid": f"mid_{mid}", "is_new": "1" if claims_new[mid] else "0",
                      "ch": "web" if mid % 3 else "app"}
            rec = {"common": common}
            if kinds[j] < 0.05:
                rec["start"] = {"entry": "icon", "loading_time": str(int(rng.integers(100, 900)))}
            else:
                page_id = PAGES[int(rng.integers(0, len(PAGES)))]
                entry = kinds[j] < 0.30
                page = {"page_id": page_id,
                        "last_page_id": "" if entry else PAGES[int(rng.integers(0, len(PAGES)))],
                        "during_time": str(int(rng.integers(500, 20000)))}
                if page_id in ("good_list", "search"):
                    n = int(rng.integers(1, 4))
                    page["item"] = " ".join(KEYWORD_VOCAB[int(k)] for k in rng.integers(0, len(KEYWORD_VOCAB), n))
                    page["item_type"] = "keyword"
                rec["page"] = page
                if page_id == "good_detail":
                    rec["displays"] = [
                        {"display_type": "promotion", "item": str(int(rng.integers(0, 100))),
                         "item_type": "sku_id", "order": k + 1}
                        for k in range(int(rng.integers(1, 4)))]
            rec["ts"] = int(ts[j])
            line = json.dumps(rec, separators=(",", ":"))
            if dirty[j]:
                line = line[: int(rng.integers(5, len(line) - 5))]
            lines.append(line)
        order = rng.permutation(LOG_LINES_PER_FILE)
        with open(os.path.join(log_dir, f"part-{i:05d}.json"), "w") as f:
            f.write("\n".join(lines[k] for k in order) + "\n")

        # the file source drains in modification-time order: pin it to
        # the file order, one second apart
        os.utime(os.path.join(log_dir, f"part-{i:05d}.json"), (1700000000 + i, 1700000000 + i))
    return {"files": STREAM_FILES}


# ---------------------------------------------------------------------------
# ads_dashboard: the star schema plus events and documents, with the
# column types of the repository's test tables.
# ---------------------------------------------------------------------------

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(days_since_epoch_ms):
    return pa.array(days_since_epoch_ms.astype("datetime64[ms]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def gen_star(seed, out, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day0 = np.datetime64("1995-01-01").astype("datetime64[ms]").astype(np.int64)
    day_ms = 86400000
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(day0 + rng.integers(0, 2404, n_ord) * day_ms),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(day0 + rng.integers(1, 2500, n_li) * day_ms)})
    ev_ms = np.datetime64("2024-01-01").astype("datetime64[ms]").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array((ev_ms * 1000 + np.sort(rng.integers(0, 30 * day_ms * 1000, n_ev)))
                       .astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 560, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    gen_documents(rng, out, 5000)
    return {"sf": sf}


def gen_documents(rng, out, n):
    """Bag-of-words documents; 5 % are an earlier document plus " dup"
    (near duplicates) and a handful are exact copies."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[int(w)] for w in rng.integers(0, len(WORDS), k)))
    _write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


# ---------------------------------------------------------------------------
# lakehouse_upsert: a base corpus and a stream of CDC row images, one
# batch per store version: new keys plus Zipf-skewed updates of existing
# keys, at most one image per key per batch (the store's merge contract).
# ---------------------------------------------------------------------------

LAKE_BASE_DOCS = 5000
LAKE_BATCHES = 120
LAKE_BATCH_ROWS = 500
LAKE_NEW_SHARE = 0.2


def gen_lake(seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    gen_documents(rng, out, LAKE_BASE_DOCS)
    next_key = LAKE_BASE_DOCS
    rows = {"batch": [], "doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    n_new = int(LAKE_BATCH_ROWS * LAKE_NEW_SHARE)
    for b in range(LAKE_BATCHES):
        upd = np.unique(_zipf_ids(rng, next_key, LAKE_BATCH_ROWS * 2, a=1.1))
        upd = rng.permutation(upd)[: LAKE_BATCH_ROWS - n_new]
        keys = np.concatenate([upd, np.arange(next_key, next_key + n_new)])
        next_key += n_new
        for k in keys:
            t = " ".join(WORDS[int(w)] for w in rng.integers(0, len(WORDS), int(rng.integers(5, 40))))
            t = f"v{b} {t}"
            rows["batch"].append(b)
            rows["doc_id"].append(int(k))
            rows["text"].append(t)
            rows["lang"].append(["en", "de", "fr"][int(rng.integers(0, 3))])
            rows["source"].append(f"src{int(k) % 20}")
            rows["n_chars"].append(len(t))
    _write(out, "cdc", {
        "batch": np.array(rows["batch"], dtype=np.int32),
        "doc_id": np.array(rows["doc_id"], dtype=np.int64),
        "text": rows["text"], "lang": rows["lang"], "source": rows["source"],
        "n_chars": np.array(rows["n_chars"], dtype=np.int64)})
    lookups = rng.integers(0, next_key, size=(LAKE_BATCHES * 4, 10)).astype(np.int64)
    np.savetxt(os.path.join(out, "lookups.txt"), lookups, fmt="%d")
    return {"batches": LAKE_BATCHES}


ADS_SF = 0.01


def generate(workload, seed, out):
    if workload == "warehouse_stream":
        return gen_stream(seed, out)
    if workload == "ads_dashboard":
        return gen_star(seed, out, ADS_SF)
    if workload == "lakehouse_upsert":
        return gen_lake(seed, out)
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
