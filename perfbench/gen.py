"""Seeded input generators: the transit seed CSVs and the batch corpus.

Both follow the shapes the program reads (graft.sources.TransitData and
graft.Tables); the same seed always yields byte-identical inputs.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 94 station objects on three lines, as in the reference's CTA extract.
LINE_SIZES = {"blue": 32, "red": 34, "green": 28}

# Hourly ridership ratio, night trough 0.01 to peaks of 0.125 at 8 and 17h
# (the reference's curve shape, BASELINE.md); hour 24 closes the day.
HOURLY_RATIO = [
    0.010, 0.010, 0.010, 0.010, 0.015, 0.030, 0.060, 0.100, 0.125, 0.100,
    0.070, 0.060, 0.065, 0.065, 0.065, 0.075, 0.100, 0.125, 0.110, 0.080,
    0.055, 0.040, 0.025, 0.015, 0.010,
]


def transit_fixture(out_dir, seed):
    """Write cta_stations.csv, ridership_seed.csv and ridership_curve.csv.

    The ridership values are a fixed ladder that the seed only permutes over
    stations, so every seed offers the same total load.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    stations = []
    sid = 40000
    for line, n in LINE_SIZES.items():
        for order in range(1, n + 1):
            sid += 10
            name = f"{line.capitalize()} {order:02d}"
            for k, d in enumerate(("E", "W")):
                stations.append({
                    "stop_id": 30000 + len(stations), "direction_id": d,
                    "stop_name": f"{name} ({'Eastbound' if k == 0 else 'Westbound'})",
                    "station_name": name,
                    "station_descriptive_name": f"{name} ({line.capitalize()} Line)",
                    "station_id": sid, "order": order,
                    "red": str(line == "red").lower(),
                    "blue": str(line == "blue").lower(),
                    "green": str(line == "green").lower(),
                })
    with open(os.path.join(out_dir, "cta_stations.csv"), "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(stations[0]))
        w.writeheader()
        w.writerows(stations)

    ids = sorted({s["station_id"] for s in stations})
    names = {s["station_id"]: s["station_name"] for s in stations}
    ladder = np.linspace(3000.0, 30000.0, len(ids))
    rides = rng.permutation(ladder)
    with open(os.path.join(out_dir, "ridership_seed.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["station_id", "stationame", "month_beginning", "avg_weekday_rides",
                    "avg_saturday_rides", "avg_sunday_holiday_rides", "monthtotal"])
        for i, r in zip(ids, rides):
            w.writerow([i, names[i], "01/01/2019", f"{r:.1f}", f"{r * 0.6:.1f}",
                        f"{r * 0.45:.1f}", int(r * 26)])
    with open(os.path.join(out_dir, "ridership_curve.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["hour", "ridership_ratio"])
        for h, r in enumerate(HOURLY_RATIO):
            w.writerow([h, r])


WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "us")
    return base + (rng.integers(0, n_days, n) * 86400 * 10**6).astype("timedelta64[us]")


def corpus(out_dir, seed, sf):
    """Write the ten graft.Tables parquet files at scale factor `sf`
    (lineitem = 6,000,000 * sf rows), one file and one row group each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def write(name, cols):
        t = pa.table({k: pa.array(v, type=ty) for k, (v, ty) in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) + 1)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": (np.arange(5), i32),
                     "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    write("nation", {"n_nationkey": (np.arange(25), i32),
                     "n_name": ([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": (np.arange(25) % 5, i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": (np.arange(n_cust), i64),
                       "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
                       "c_nationkey": (rng.integers(0, 25, n_cust), i32),
                       "c_acctbal": (money(-999.99, 9999.99, n_cust), f64),
                       "c_mktsegment": (segs[rng.integers(0, 5, n_cust)], s)})
    write("supplier", {"s_suppkey": (np.arange(n_supp), i64),
                       "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
                       "s_nationkey": (rng.integers(0, 25, n_supp), i32),
                       "s_acctbal": (money(-999.99, 9999.99, n_supp), f64)})
    adj = np.array(["small", "red", "blue", "hot", "cold", "big", "green", "shiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "spring", "plate"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {"p_partkey": (np.arange(n_part), i64),
                   "p_name": (np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                          noun[rng.integers(0, 7, n_part)]), s),
                   "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
                   "p_type": (types[rng.integers(0, 6, n_part)], s),
                   "p_size": (rng.integers(1, 51, n_part), i32),
                   "p_retailprice": (900.0 + (np.arange(n_part) % 1000) / 10.0, f64)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {"o_orderkey": (np.arange(n_ord), i64),
                     "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
                     "o_orderstatus": (np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
                     "o_totalprice": (money(1000.0, 500000.0, n_ord), f64),
                     "o_orderdate": (_ts("1995-01-01", 2400, rng, n_ord), pa.timestamp("us")),
                     "o_orderpriority": (prio[rng.integers(0, 5, n_ord)], s)})
    write("lineitem", {"l_orderkey": (rng.integers(0, n_ord, n_li), i64),
                       "l_partkey": (rng.integers(0, n_part, n_li), i64),
                       "l_suppkey": (rng.integers(0, n_supp, n_li), i64),
                       "l_linenumber": (rng.integers(1, 8, n_li), i32),
                       "l_quantity": (rng.integers(1, 51, n_li).astype(float), f64),
                       "l_extendedprice": (money(900.0, 105000.0, n_li), f64),
                       "l_discount": (rng.integers(0, 11, n_li) / 100.0, f64),
                       "l_tax": (rng.integers(0, 9, n_li) / 100.0, f64),
                       "l_returnflag": (np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
                       "l_linestatus": (np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
                       "l_shipdate": (_ts("1995-01-02", 2500, rng, n_li), pa.timestamp("us"))})
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    write("events", {"event_id": (np.arange(n_ev), i64),
                     "ts": (np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                            pa.timestamp("us")),
                     "user_id": (rng.integers(0, max(150, n_ev // 66), n_ev), i64),
                     "event_type": (kinds[rng.integers(0, 5, n_ev)], s),
                     "value": (np.round(np.minimum(rng.exponential(20.0, n_ev), 490.0) + 0.01, 2), f64),
                     "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:  # near duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    langs = np.array(["en", "zh", "es", "de", "fr"])
    write("documents", {"doc_id": (np.arange(n_doc), i64), "text": (texts, s),
                        "lang": (langs[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])], s),
                        "source": ([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
                        "n_chars": ([len(t) for t in texts], i64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": (np.arange(n_emb), i64),
                         "embedding": (list(vecs), pa.list_(pa.float32())),
                         "label": (labels, i32)})
