"""Output checks, computed apart from the program.

Each workload's check recomputes the expected answer from the generated
inputs alone (DuckDB SQL and plain Python) and compares it with what the
workload's JVM wrote; it returns a list of problems, empty when the
outputs are correct.

  warehouse_stream  every window row of the visitor and keyword stats the
                    job emitted, and every dirty line, against DuckDB over
                    the consumed input files; no row may be dropped late.
  ads_dashboard     each query's result against its oracle SQL in DuckDB
                    over the same tables.
  lakehouse_upsert  every point lookup, and the final table, against a
                    last-write-wins fold of the base corpus and the CDC
                    batches merged so far.
"""
import decimal
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# warehouse_stream
# ---------------------------------------------------------------------------

# graft_tokenize's phrase dictionary: adjacent pairs merged with "_"
PHRASES = {("hash", "join"), ("table", "scan"), ("group", "value")}


def tokenize(text):
    toks = text.split()
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and (toks[i], toks[i + 1]) in PHRASES:
            out.append(toks[i] + "_" + toks[i + 1])
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def stream_expected(inputs, files_done, watermark_ms):
    """(visitor rows, keyword rows, dirty lines) the visitor job must emit
    after consuming the first `files_done` log files, windows closed by
    `watermark_ms`."""
    log_dir = os.path.join(inputs, "log")
    files = sorted(os.listdir(log_dir))[:files_done]
    pages, words, dirty = [], [], []
    for name in files:
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines():
                try:
                    rec = json.loads(line)
                except ValueError:
                    dirty.append(line)
                    continue
                if "start" in rec:
                    continue
                page = rec["page"]
                pages.append((rec["common"]["mid"], rec["common"].get("is_new", "0"),
                              page.get("last_page_id", ""), int(page.get("during_time", 0)),
                              rec["ts"]))
                if page.get("item"):
                    words.extend((rec["ts"], t) for t in tokenize(page["item"]))
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.register("pages", pa.table(list(zip(*pages)) if pages else [[]] * 5,
                                   names=["mid", "claim", "last_page_id", "during_time", "ts"]))
    con.register("words", pa.table(list(zip(*words)) if words else [[], []],
                                   names=["ts", "keyword"]))
    win = """strftime(to_timestamp(({c} // 10000) * 10)::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS stt,
             strftime(to_timestamp(({c} // 10000) * 10 + 10)::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS edt,
             (({c} // 10000) * 10 + 10) * 1000 AS end_ms"""
    visitor = con.execute(f"""
        WITH p AS (
          SELECT *, CASE WHEN claim = '1' AND to_timestamp(ts / 1000)::DATE =
                      min(to_timestamp(ts / 1000)::DATE) OVER (PARTITION BY mid)
                    THEN '1' ELSE '0' END AS is_new
          FROM pages)
        SELECT stt, edt, is_new, count(*) AS pv_ct,
               sum(CASE WHEN last_page_id = '' THEN 1 ELSE 0 END) AS sv_ct,
               sum(during_time) AS dur_sum
        FROM (SELECT *, {win.format(c='ts')} FROM p)
        WHERE end_ms <= {watermark_ms}
        GROUP BY stt, edt, is_new""").fetchall()
    keyword = con.execute(f"""
        SELECT stt, edt, keyword, count(*) AS ct
        FROM (SELECT *, {win.format(c='ts')} FROM words)
        WHERE end_ms <= {watermark_ms}
        GROUP BY stt, edt, keyword""").fetchall()
    return visitor, keyword, dirty


def stream_emitted(out):
    visitor, keyword, dirty = [], [], []
    with open(os.path.join(out, "outputs.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r["kind"] == "visitor":
                visitor.append((r["stt"], r["edt"], r["k"], r["a"], r["b"], r["c"]))
            elif r["kind"] == "keyword":
                keyword.append((r["stt"], r["edt"], r["k"], r["a"]))
            elif r["kind"] == "dirty":
                dirty.append(r["k"])
    return visitor, keyword, dirty


def _diff(what, got, want):
    got, want = sorted(map(tuple, got)), sorted(map(tuple, want))
    if got == want:
        return []
    extra = [r for r in got if r not in want][:3]
    missing = [r for r in want if r not in got][:3]
    return [f"{what}: {len(got)} rows vs {len(want)} expected; "
            f"unexpected {extra}, missing {missing}"]


def check_stream(inputs, out, info):
    problems = []
    if info["rows_dropped_late"]:
        problems.append(f"{info['rows_dropped_late']} rows dropped late; the input's "
                        f"disorder stays within the watermark")
    want = stream_expected(inputs, info["files_done"], info["watermark_ms"])
    got = stream_emitted(out)
    for what, g, w in zip(("visitor stats", "keyword stats"), got[:2], want[:2]):
        problems += _diff(what, g, w)
    problems += _diff("dirty lines", [(x,) for x in got[2]], [(x,) for x in want[2]])
    if not want[0]:
        problems.append("no window closed: the run consumed too few files to check")
    return problems


# ---------------------------------------------------------------------------
# ads_dashboard: oracle SQL in DuckDB over the generated tables
# ---------------------------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def canon(table):
    """Columns sorted by name, rows sorted, cells stringified the way the
    repository's oracle comparison does (decimals through float repr)."""
    cols = sorted(table.column_names)

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, decimal.Decimal):
            return repr(float(v))
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted(tuple(cell(v) for v in row) for row in zip(*data))


def oracle_con(inputs):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_queries(inputs, out):
    problems = []
    con = oracle_con(inputs)
    with open(os.path.join(out, "oracle.jsonl")) as f:
        oracle = [json.loads(line) for line in f]
    for q in oracle:
        name, sql = q["name"], q["sql"]
        if sql is None:
            problems.append(f"{name}: no oracle SQL")
            continue
        want = canon(con.execute(sql).arrow())
        got = canon(pq.read_table(os.path.join(out, "results", name)))
        if got[0] != want[0]:
            problems.append(f"{name}: columns {got[0]} != oracle {want[0]}")
        elif got[1] != want[1]:
            problems.append(f"{name}: {len(got[1])} rows vs {len(want[1])} from the oracle; "
                            f"first difference {next((a, b) for a, b in zip(got[1] + [None] * len(want[1]), want[1] + [None] * len(got[1])) if a != b)}")
    return problems


# ---------------------------------------------------------------------------
# lakehouse_upsert: last-write-wins fold
# ---------------------------------------------------------------------------

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def lake_folds(inputs):
    """fold(k) = the table after the first k CDC batches, as {doc_id: row}."""
    base = pq.read_table(os.path.join(inputs, "documents.parquet")).to_pylist()
    cdc = pq.read_table(os.path.join(inputs, "cdc.parquet")).to_pylist()
    state = {r["doc_id"]: tuple(r[c] for c in DOC_COLS) for r in base}
    by_batch = {}
    for r in cdc:
        by_batch.setdefault(r["batch"], []).append(tuple(r[c] for c in DOC_COLS))

    def fold(k):
        s = dict(state)
        for b in range(k):
            for row in by_batch.get(b, []):
                s[row[0]] = row
        return s
    return fold


def check_lake(inputs, out, info):
    problems = []
    fold = lake_folds(inputs)
    cache = {}
    with open(os.path.join(out, "lookups.jsonl")) as f:
        for i, line in enumerate(f):
            r = json.loads(line)
            s = cache.setdefault(r["applied"], fold(r["applied"]))
            want = sorted(s[k] for k in set(r["keys"]) if k in s)
            got = sorted(tuple(x[c] for c in DOC_COLS) for x in r["rows"])
            if got != want:
                problems.append(f"lookup {i} after {r['applied']} batches: {got[:2]} != {want[:2]}")
    final = pq.read_table(os.path.join(out, "final_table")).select(DOC_COLS).to_pylist()
    got = sorted(tuple(r[c] for c in DOC_COLS) for r in final)
    want = sorted(fold(info["applied_batches"]).values())
    problems += _diff("final table", got, want)
    return problems


def check(workload, inputs, out, res):
    if workload == "warehouse_stream":
        return check_stream(inputs, out, res["info"])
    if workload == "lakehouse_upsert":
        return check_lake(inputs, out, res["info"])
    return check_queries(inputs, out)
