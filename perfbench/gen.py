"""Seeded generator of the batch contract's parquet tables.

``write_tables`` writes the TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings`` with the column names, types and value
shapes of the repository's test data, deterministically in its seed.  (The
HFP feed generator lives in ``scala/HfpGen.scala``: the feed is released from
inside the JVM, so it is generated there.)
"""
import os

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = (("en", 0.44), ("es", 0.14), ("zh", 0.15), ("de", 0.14), ("fr", 0.13))


def write_tables(out_dir, seed, sf):
    """Write the ten contract tables at scale factor ``sf`` under
    ``out_dir/<name>.parquet``.  Returns the row count per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    day = np.timedelta64(1, "D")
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": g.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                  "BUILDING", "FURNITURE"], n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
    noun = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [adj[a] + " " + noun[b] for a, b in zip(g.integers(0, 8, n_part),
                                                          g.integers(0, 8, n_part))],
        "p_brand": ["Brand#%d" % b for b in g.integers(1, 26, n_part)],
        "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    o_date = np.datetime64("1995-01-01") + g.integers(0, 2404, n_ord) * day
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": g.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(g.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(o_date.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    l_ord = g.integers(0, n_ord, n_line).astype(np.int64)
    qty = g.integers(1, 51, n_line).astype(np.float64)
    ship = o_date[l_ord] + g.integers(1, 122, n_line) * day
    tables["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": g.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": g.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(g.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(g.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": g.choice(["A", "N", "R"], n_line),
        "l_linestatus": g.choice(["O", "F"], n_line),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(g.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"))
    ev_user = g.integers(0, 150, n_ev).astype(np.int64)
    ev_type = g.choice(["click", "signup", "error", "view", "purchase"], n_ev)
    ev_val = np.round(g.exponential(50.0, n_ev) + 0.01, 2)
    ev_props = np.array(['{"k": %d}' % k for k in g.integers(0, 100, n_ev)], dtype=object)
    # exact re-deliveries: a few events repeat an earlier event's content
    dup = np.flatnonzero(g.random(n_ev) < 0.02)
    src = (dup * g.random(len(dup))).astype(np.int64)
    ev_user[dup], ev_type[dup], ev_val[dup], ev_props[dup] = (
        ev_user[src], ev_type[src], ev_val[src], ev_props[src])
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": ev_user, "event_type": ev_type, "value": ev_val,
        "props": pa.array(list(ev_props), pa.string())})
    texts = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:
            # planted near-duplicate, the test data's shape: a copy plus " dup"
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(g.choice(WORDS, int(g.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": g.choice([l for l, _ in LANGS], n_doc, p=[p for _, p in LANGS]),
        "source": ["src%d" % s for s in g.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    dim = 64
    centers = g.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = g.integers(0, 10, n_emb)
    vec = g.normal(size=(n_emb, dim)) / np.sqrt(dim) + 0.14 * centers[label]
    near = np.flatnonzero(g.random(n_emb) < 0.05)
    near = near[near > 0]
    vec[near] = vec[(near * g.random(len(near))).astype(np.int64)] + g.normal(scale=1e-3, size=(len(near), dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
    return {name: t.num_rows for name, t in tables.items()}
