"""Input generation for the benchmark.

Three kinds of input, all made inside the checkout:

- the engine's parquet tables (region ... embeddings), in the same
  physical schema as the engine's test data, from a fixed table seed so
  the oracle cache stays valid across runs;
- seeded Schema-A weather records (the Kafka wire contract: 14 string
  fields, accented names), with a few non-numeric values so the
  cast-to-null paths run;
- nothing else: the prep corpus is the documents table plus the same
  planted copies the engine's e2e4 query plants, built on the JVM side.
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(df, path, schema=None):
    t = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(t, path)


def make_tables(out_dir, sf):
    """Write the ten tables at scale factor `sf` (sf=1 is 6M lineitems)."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.RandomState(TABLE_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), max(int(20000 * sf), 200)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts, s = pa.timestamp("us"), pa.string()

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out_dir}/region.parquet")
    _write(pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
           f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.randint(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.randint(0, 5, n_cust)]}), f"{out_dir}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.randint(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet")
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    pk = np.arange(n_part)
    _write(pd.DataFrame({
        "p_partkey": pk.astype(np.int64),
        "p_name": np.char.add(np.char.add(adj[r.randint(0, 8, n_part)], " "),
                              noun[r.randint(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", (r.randint(1, 26, n_part)).astype(str)),
        "p_type": types[r.randint(0, 6, n_part)],
        "p_size": r.randint(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)}), f"{out_dir}/part.parquet")

    def days(lo, hi, n):
        base = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - base).astype(int)
        return (base + r.randint(0, span + 1, n)).astype("datetime64[us]")

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.randint(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.randint(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prio[r.randint(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet",
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(pd.DataFrame({
        "l_orderkey": r.randint(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.randint(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.randint(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.randint(1, 8, n_line).astype(np.int32),
        "l_quantity": r.randint(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105000, n_line), 2),
        "l_discount": r.randint(0, 11, n_line) / 100.0,
        "l_tax": r.randint(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.randint(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.randint(0, 2, n_line)],
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line)}),
        f"{out_dir}/lineitem.parquet",
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))
    ev_us = np.sort(r.randint(0, 30 * 86400 * 10**6, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": r.randint(0, max(n_cust // 10, 10), n_ev).astype(np.int64),
        "event_type": np.array("click error purchase signup view".split())[r.randint(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": ['{"k": %d}' % k for k in r.randint(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet",
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))
    texts = []
    for i in range(n_doc):
        if i > 20 and r.rand() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[r.randint(0, i)] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[r.randint(0, len(WORDS), r.randint(10, 101))]))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array("en en en de es fr zh".split())[r.randint(0, 7, n_doc)],
        "source": np.char.add("src", r.randint(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")
    label = r.randint(0, 10, n_emb)
    centers = r.normal(0, 1, (10, 64))
    v = centers[label] * 0.5 + r.normal(0, 1, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64),
                         "embedding": list(v), "label": label.astype(np.int32)}),
           f"{out_dir}/embeddings.parquet",
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


CITIES = [("Casablanca", 33.5928, -7.6192), ("Rabat", 34.0209, -6.8416),
          ("Marrakech", 31.6295, -7.9811), ("Fes", 34.0331, -5.0003),
          ("Tangier", 35.7595, -5.834), ("Agadir", 30.4278, -9.5981),
          ("Oujda", 34.6814, -1.9086), ("Ifrane", 33.5228, -5.1106)]
DESCRIPTIONS = ["clear sky", "few clouds", "overcast clouds", "light rain",
                "thunderstorm", "light snow", "fog", "mist", "clear sky with clouds",
                "heavy intensity rain"]


SCHEMA_A = ["date", "weather_description", "latitude", "pression", "humidité",
            "feels_like", "city_name", "local_time", "min_temp", "wind_speed",
            "température", "max_temp", "timestamp", "longitude"]
BASE_EPOCH = 1761661906  # the reference's golden record, 2025-10-28 14:31:46 UTC


def weather_records(seed, n, base_epoch=BASE_EPOCH):
    """`n` Schema-A JSON lines. `timestamp` is base_epoch + i, so it is a
    unique record key. One in ten temperatures and wind speeds sits on a
    formula boundary (T in {0, 10, 27, 30, 40}, W in {4.8, 50}), and about
    2% of numeric fields hold a non-number, which casts to null."""
    r = np.random.RandomState(seed)
    city = r.randint(len(CITIES), size=n)
    t = np.where(r.rand(n) < 0.9, r.uniform(-8, 45, n),
                 np.array([0.0, 10.0, 27.0, 30.0, 40.0])[r.randint(5, size=n)])
    w = np.where(r.rand(n) < 0.9, r.uniform(0, 60, n),
                 np.array([4.8, 50.0])[r.randint(2, size=n)])
    desc = r.randint(len(DESCRIPTIONS), size=n)
    pres, hum = r.randint(960, 1060, size=n), r.randint(10, 100, size=n)
    bad = r.rand(7, n) < 0.02

    def num(vals, fmt, k):
        return ["n/a" if b else fmt % v for v, b in zip(vals, bad[k])]
    cols = {"pression": num(pres, "%d", 0), "humidité": num(hum, "%d", 1),
            "feels_like": num(t - 1.3, "%.2f", 2), "min_temp": num(t - 0.4, "%.2f", 3),
            "wind_speed": num(w, "%.2f", 4), "température": num(t, "%.2f", 5),
            "max_temp": num(t + 0.4, "%.2f", 6)}
    epochs = base_epoch + np.arange(n)
    stamps = pd.to_datetime(epochs, unit="s").strftime("%Y-%m-%d %H:%M:%S")
    out = []
    for i in range(n):
        name, lat, lon = CITIES[city[i]]
        out.append(json.dumps({
            "date": stamps[i], "weather_description": DESCRIPTIONS[desc[i]],
            "latitude": "%.4f" % lat, "pression": cols["pression"][i],
            "humidité": cols["humidité"][i], "feels_like": cols["feels_like"][i],
            "city_name": name, "local_time": stamps[i], "min_temp": cols["min_temp"][i],
            "wind_speed": cols["wind_speed"][i], "température": cols["température"][i],
            "max_temp": cols["max_temp"][i], "timestamp": str(epochs[i]),
            "longitude": "%.4f" % lon}, ensure_ascii=False))
    return out
