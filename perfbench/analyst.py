"""Inputs and output check for the analyst-mix workload.

generate(seed, dir) writes the ten TPC-H-shaped tables the query rows read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) as parquet, with the column names, types and value
shapes of the repository's test data, drawn from the seed. At the scale used
here lineitem has 60,000 rows.

check(data_dir, out_dir) runs each query's oracle SQL in DuckDB over the same
tables and compares it with the program's output (one parquet directory per
query under out_dir, and out_dir/oracle_sql.json naming the SQL): the same
columns by name, the same canonical type per column, and the same multiset
of rows. It returns {query name: reason} for every query that differs.
"""
import datetime
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.01
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
WORDS = ("a the row key value table part hash merge batch spark line sort window scan slow "
         "fast query data column agg join small big order group filter stream customer "
         "vector").split()
LANGS = (("en", 44), ("zh", 15), ("es", 14), ("de", 14), ("fr", 13))


def _day(rng, lo, days):
    return datetime.datetime.combine(lo + datetime.timedelta(days=rng.randrange(days)),
                                     datetime.time())


def _write(d, name, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), os.path.join(d, f"{name}.parquet"))


def generate(seed, d):
    rng = random.Random(seed)
    os.makedirs(d, exist_ok=True)
    i32, i64, f64, f32, s, ts = (pa.int32(), pa.int64(), pa.float64(), pa.float32(),
                                 pa.string(), pa.timestamp("us"))
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_line, n_ev = int(1_500_000 * SCALE), int(6_000_000 * SCALE), int(1_000_000 * SCALE)
    n_doc, n_emb = int(50_000 * SCALE), int(50_000 * SCALE)

    _write(d, "region", {"r_regionkey": list(range(5)),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(d, "nation", {"n_nationkey": list(range(25)),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segments = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    _write(d, "customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [rng.randrange(-99999, 1000000) / 100 for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(segments) for _ in range(n_cust)]},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(d, "supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [rng.randrange(-99999, 1000000) / 100 for _ in range(n_supp)]},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    adjs = ("blue", "cold", "hot", "red", "small", "large", "green", "dark")
    nouns = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    types = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    _write(d, "part", {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rng.choice(types) for _ in range(n_part)],
        "p_size": [rng.randrange(1, 51) for _ in range(n_part)],
        "p_retailprice": [round(900 + (i % 2000) / 10, 2) for i in range(n_part)]},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))
    priorities = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    d0 = datetime.date(1995, 1, 1)
    _write(d, "orders", {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [rng.randrange(100000, 50000000) / 100 for _ in range(n_ord)],
        "o_orderdate": [_day(rng, d0, 2404) for _ in range(n_ord)],
        "o_orderpriority": [rng.choice(priorities) for _ in range(n_ord)]},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(d, "lineitem", {
        "l_orderkey": [rng.randrange(n_ord) for _ in range(n_line)],
        "l_partkey": [rng.randrange(n_part) for _ in range(n_line)],
        "l_suppkey": [rng.randrange(n_supp) for _ in range(n_line)],
        "l_linenumber": [rng.randrange(1, 8) for _ in range(n_line)],
        "l_quantity": [float(rng.randrange(1, 51)) for _ in range(n_line)],
        "l_extendedprice": [rng.randrange(90000, 10500000) / 100 for _ in range(n_line)],
        "l_discount": [rng.randrange(11) / 100 for _ in range(n_line)],
        "l_tax": [rng.randrange(9) / 100 for _ in range(n_line)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n_line)],
        "l_linestatus": [rng.choice("FO") for _ in range(n_line)],
        "l_shipdate": [_day(rng, datetime.date(1995, 1, 2), 2499) for _ in range(n_line)]},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))
    t0 = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    ev_ts = sorted(rng.randrange(span_us) for _ in range(n_ev))
    kinds = ("click", "error", "purchase", "signup", "view")
    _write(d, "events", {
        "event_id": list(range(n_ev)),
        "ts": [t0 + datetime.timedelta(microseconds=u) for u in ev_ts],
        "user_id": [rng.randrange(150) for _ in range(n_ev)],
        "event_type": [rng.choice(kinds) for _ in range(n_ev)],
        "value": [rng.randrange(2001) / 100 for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))
    langs = [l for l, w in LANGS for _ in range(w)]
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 90)))
             for _ in range(n_doc)]
    _write(d, "documents", {
        "doc_id": list(range(n_doc)), "text": texts,
        "lang": [rng.choice(langs) for _ in range(n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))
    centers = [[rng.gauss(0, 0.15) for _ in range(64)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(n_emb)]
    _write(d, "embeddings", {
        "vec_id": list(range(n_emb)),
        "embedding": [[c + rng.gauss(0, 0.05) for c in centers[l]] for l in labels],
        "label": labels},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(f32)), ("label", i32)]))


def _canon_type(t):
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{_canon_type(f.type)}" for f in t) + ">"
    return str(t)


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _rows(tbl):
    cols = sorted(tbl.schema.names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return sorted(tuple(_canon(x) for x in r) for r in zip(*data)) if cols else [()] * tbl.num_rows


def check(data_dir, out_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            want = con.execute(sql).arrow()
            got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").arrow()
        except Exception as e:  # noqa: BLE001 — any failure fails the query
            bad[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        wt = {f.name: _canon_type(f.type) for f in want.schema}
        gt = {f.name: _canon_type(f.type) for f in got.schema}
        if wt != gt:
            bad[name] = f"columns or types differ: oracle {wt}, program {gt}"
        elif _rows(want) != _rows(got):
            bad[name] = f"rows differ ({want.num_rows} oracle, {got.num_rows} program)"
    return bad
