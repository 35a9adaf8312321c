"""Seeded input generators for the benchmark workloads.

Every generator takes a numpy Generator built from ``--seed`` so the same
seed always yields byte-identical inputs.

* ``tables``        TPC-H-like star schema plus events / documents /
                    embeddings, with the column names and parquet types the
                    engine's registered queries read.
* ``etl_inputs``    raw transactions CSV in the reference schema, a dated
                    currency-rates CSV and a product-categories CSV.
* ``lakehouse``     the base table and the per-round change batches of the
                    ``lakehouse_rw`` workload (13-column ETL output schema).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "group filter stream big vector").split()


def _ts(rng, lo, hi, n, unit_s=1):
    lo_s = int((lo - EPOCH).total_seconds())
    hi_s = int((hi - EPOCH).total_seconds())
    secs = rng.integers(lo_s // unit_s, hi_s // unit_s, n) * unit_s
    return pa.array(secs * 1_000_000, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(out, rng, sf):
    """The ten registry tables at scale factor ``sf`` (lineitem ~6M x sf)."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = max(50, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(100, int(200_000 * sf)), max(500, int(1_500_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "large", "red", "blue", "cold", "green"])
    noun = np.array(["widget", "ring", "bolt", "rod", "gear"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 6, n_part)],
                                              noun[rng.integers(0, 5, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = _ts(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord, 86400)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = (np.asarray(odate.cast(pa.int64()))[okey]
            + rng.integers(1, 122, n_li) * 86_400_000_000)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    ev_ts = np.sort(rng.integers(
        int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds() * 1e6),
        int((dt.datetime(2024, 1, 31) - EPOCH).total_seconds() * 1e6), n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = 100
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.1:
            # planted near-duplicate: one word of an earlier doc replaced
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), int(rng.integers(10, 80)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr"])[rng.integers(0, 4, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n_emb, dim, k = 250, 64, 10
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n_emb)
    emb = centers[labels] + rng.normal(0, 1.3, (n_emb, dim))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array([row.astype(np.float32) for row in emb],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def stream_source(events_path, out, files):
    """The events table split into ``files`` parquet files: the input
    directory of the streaming ingest."""
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(events_path)
    step = -(-t.num_rows // files)
    for i in range(files):
        pq.write_table(t.slice(i * step, step), os.path.join(out, f"part-{i}.parquet"))


def _transactions(rng, n, id0, day0, days, users, products, currencies):
    secs = (int((day0 - EPOCH).total_seconds())
            + rng.integers(0, days * 86400, n))
    return {
        "transaction_id": np.char.add("t", (id0 + np.arange(n)).astype(str)),
        "user_id": np.char.add("u", rng.integers(0, users, n).astype(str)),
        "product_id": np.char.add("P", rng.integers(0, products, n).astype(str)),
        "amount": np.round(rng.uniform(1, 500, n), 2),
        "currency": np.array(currencies)[rng.integers(0, len(currencies), n)],
        "secs": secs,
    }


ETL_CURRENCIES = ["USD", "USD", "EUR", "GBP", "JPY"]


def etl_inputs(out, rng, n_rows):
    """Reference-schema CSVs: USD bypass, EUR with two dated rates, GBP with
    none (1.0 fallback), JPY with one; a tenth of product ids have no
    category row."""
    os.makedirs(os.path.join(out, "tx"), exist_ok=True)
    t = _transactions(rng, n_rows, 0, dt.datetime(2025, 1, 1), 180,
                      5000, 2000, ETL_CURRENCIES)
    stamps = np.datetime_as_string(t["secs"].astype("datetime64[s]"), unit="s")
    with open(os.path.join(out, "tx", "part-0.csv"), "w") as f:
        f.write("transaction_id,user_id,product_id,amount,currency,timestamp\n")
        rows = zip(t["transaction_id"], t["user_id"], t["product_id"],
                   t["amount"], t["currency"], stamps)
        f.writelines(f"{a},{b},{c},{d:.2f},{e},{s}Z\n" for a, b, c, d, e, s in rows)
    eur = np.round(rng.uniform(1.0, 1.2, 2), 4)
    with open(os.path.join(out, "rates.csv"), "w") as f:
        f.write("currency,rate_to_usd,rate_date\n")
        f.write(f"EUR,{eur[0]},2025-01-01 00:00:00\n")
        f.write(f"EUR,{eur[1]},2025-03-01 00:00:00\n")
        f.write(f"JPY,{round(float(rng.uniform(0.006, 0.008)), 6)},2025-02-01 00:00:00\n")
    with open(os.path.join(out, "categories.csv"), "w") as f:
        f.write("product_id,category\n")
        cats = rng.integers(0, 12, 2000)
        f.writelines(f"P{p},cat{cats[p]}\n" for p in range(2000) if p % 10 != 7)


LAKE_CURRENCIES = ["USD", "EUR", "GBP"]


def _lake_rows(rng, n, id0, day0, days):
    t = _transactions(rng, n, id0, day0, days, 2000, 500, LAKE_CURRENCIES)
    rate = {"USD": 1.0, "EUR": 1.1, "GBP": 1.25}
    ts = t["secs"].astype("datetime64[s]")
    d = ts.astype("datetime64[D]")
    iso = [x.isocalendar() for x in d.astype(dt.date)]
    return pa.table({
        "transaction_id": t["transaction_id"],
        "user_id": t["user_id"],
        "product_id": t["product_id"],
        "category": np.char.add("cat", (np.char.lstrip(t["product_id"], "P")
                                        .astype(int) % 12).astype(str)),
        "amount": t["amount"],
        "currency": t["currency"],
        "amount_usd": t["amount"] * np.array([rate[c] for c in t["currency"]]),
        "timestamp": pa.array(t["secs"] * 1_000_000, pa.timestamp("us", tz="UTC")),
        "transaction_date": pa.array(d),
        "transaction_year": pa.array(d.astype("datetime64[Y]").astype(int) + 1970, pa.int32()),
        "transaction_month": pa.array(d.astype("datetime64[M]").astype(int) % 12 + 1, pa.int32()),
        "transaction_week": pa.array([w for _, w, _ in iso], pa.int32()),
        "transaction_day": pa.array((d - d.astype("datetime64[M]")).astype(int) + 1, pa.int32()),
    })


def lakehouse(out, rng, base_rows, rounds, load_rows, corr_rows, branch_rows):
    """Base table (Jan-Jun 2025) and, per round r, one day's load, a
    correction batch (half re-priced existing ids, half new ids), the user
    to erase, the product to re-price, the branch batch, and the point-lookup
    key. Returns the per-round parameters."""
    os.makedirs(out, exist_ok=True)
    base = _lake_rows(rng, base_rows, 0, dt.datetime(2025, 1, 1), 181)
    pq.write_table(base, os.path.join(out, "base.parquet"))
    ids = base.column("transaction_id").to_numpy(zero_copy_only=False)
    params = []
    next_id = base_rows
    for r in range(rounds):
        day = dt.datetime(2025, 7, 1) + dt.timedelta(days=r)
        load = _lake_rows(rng, load_rows, next_id, day, 1)
        next_id += load_rows
        pq.write_table(load, os.path.join(out, f"load_{r}.parquet"))
        old = _lake_rows(rng, corr_rows // 2, 0, dt.datetime(2025, 1, 1), 181)
        pick = rng.choice(len(ids), corr_rows // 2, replace=False)
        old = old.set_column(0, "transaction_id", pa.array(ids[pick]))
        new = _lake_rows(rng, corr_rows - corr_rows // 2, next_id, day, 1)
        next_id += corr_rows - corr_rows // 2
        pq.write_table(pa.concat_tables([old, new]),
                       os.path.join(out, f"corr_{r}.parquet"))
        br = _lake_rows(rng, branch_rows, next_id, day, 1)
        next_id += branch_rows
        pq.write_table(br, os.path.join(out, f"branch_{r}.parquet"))
        params.append({
            "erase_user": f"u{int(rng.integers(0, 2000))}",
            "reprice_product": f"P{int(rng.integers(0, 500))}",
            "point_id": str(ids[int(rng.integers(0, len(ids)))]),
        })
    return params
