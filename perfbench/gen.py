"""Seeded input generators for the benchmark.

Two inputs, both a pure function of (seed, size):

* `cities(out, seed, scale)`: the three municipal crime CSVs the city
  recipes harmonize, shaped like the reference's raw portal exports. The
  recode keys come from tools/gen_city_fixtures.py (the checked-in fixture
  generator), descriptions are Zipf-skewed over them, dates span 2010-2017
  in each city's own time format, and corrupt coordinates appear at the
  reference notebooks' drop rates (Baltimore 410/243,399, Detroit
  48,406/96,812, Los Angeles 11,421/172,860).
* `corpus(out, seed, sf)`: the star-schema + events + documents + embeddings
  parquet tables the registry queries and `/fields` read, with the column
  names, value domains and row ratios of the TPC-H-ish testdata at scale
  factor `sf`.

Never writes anywhere but `out`.
"""
import csv
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Raw row counts of the reference's live portal loads, per city.
REFERENCE_ROWS = {"Baltimore": 243399, "Detroit": 96812, "LosAngeles": 172860}
DROP_RATE = {"Baltimore": 410 / 243399, "Detroit": 48406 / 96812,
             "LosAngeles": 11421 / 172860}


def _fixture_module():
    path = os.path.join(ROOT, "tools", "gen_city_fixtures.py")
    spec = importlib.util.spec_from_file_location("gen_city_fixtures", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _zipf_choice(rng, keys, n, s=1.1):
    """n draws over `keys` with Zipf weights, in a seed-dependent key order."""
    order = rng.permutation(len(keys))
    w = 1.0 / np.arange(1, len(keys) + 1) ** s
    idx = rng.choice(len(keys), size=n, p=w / w.sum())
    return [keys[order[i]] for i in idx]


def _dates(rng, n):
    """n datetimes at minute resolution, uniform over 2010-2017."""
    start = np.datetime64("2010-01-01T00:00")
    minutes = rng.integers(0, 8 * 365 * 24 * 60, size=n)
    ts = (start + minutes.astype("timedelta64[m]")).astype(object)
    return ts


def _coords(rng, n, lat0, lon0, spread):
    lat = lat0 + rng.uniform(-spread, spread, n)
    lon = lon0 + rng.uniform(-spread, spread, n)
    return [f"{a:.4f}" for a in lat], [f"{o:.4f}" for o in lon]


def _kept(lat, lon, lat_max=None, lon_neg=False):
    """The notebooks' coordinate filter: both present, latitude positive
    (and below the 99999 sentinel), longitude negative where checked."""
    if not lat or not lon:
        return False
    la, lo = float(lat), float(lon)
    return la > 0 and (lat_max is None or la < lat_max) and (not lon_neg or lo < 0)


def _write_csv(path, headers, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(headers)
        w.writerows(rows)


def cities(out, seed, scale):
    """Write Baltimore.csv, Detroit.csv and LosAngeles.csv under `out`;
    returns {city: (rows, rows_expected_kept)}."""
    fx = _fixture_module()
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    stats = {}

    n = int(REFERENCE_ROWS["Baltimore"] * scale)
    descr = _zipf_choice(rng, fx.BALTIMORE_DESCR, n)
    ts = _dates(rng, n)
    lat, lon = _coords(rng, n, 39.29, -76.61, 0.08)
    bad = rng.random(n) < DROP_RATE["Baltimore"]
    fmt = rng.integers(0, 4, n)
    rows = []
    for i in range(n):
        t = ts[i]
        # the notebook's dual time formats: HH:MM:SS, packed HHMM, hour 24
        # for midnight, and a missing time
        time = (f"{t.hour:02d}:{t.minute:02d}:00", f"{t.hour:02d}{t.minute:02d}",
                "2400" if t.hour == 0 else f"{t.hour}:{t.minute:02d}:00",
                "" if i % 97 == 0 else f"{t.hour:02d}{t.minute:02d}")[fmt[i]]
        geo = "" if bad[i] else f"({lat[i]}, {lon[i]})"
        rows.append([f"{t.month}/{t.day}/{t.year}", time, f"{i % 9 + 1}{'ABCD'[i % 4]}",
                     f"{100 + i % 900} N MAIN ST", descr[i], "IO"[i % 2],
                     "FIREARM" if i % 3 == 0 else "", f"{i % 9 + 1}11",
                     f"DISTRICT {i % 9 + 1}", f"NBHD {i % 50 + 1}", geo, "STREET",
                     str(t.year), "1"])
    _write_csv(os.path.join(out, "Baltimore.csv"), fx.BALTIMORE_HEADERS, rows)
    stats["Baltimore"] = (n, int(n - bad.sum()))

    n = int(REFERENCE_ROWS["Detroit"] * scale)
    descr = _zipf_choice(rng, fx.DETROIT_DESCR, n)
    ts = _dates(rng, n)
    lat, lon = _coords(rng, n, 42.35, -83.08, 0.1)
    bad = rng.random(n) < DROP_RATE["Detroit"]
    corrupt = [c for c in fx.DETROIT_COORDS if not _kept(*c, lat_max=99999, lon_neg=True)]
    kinds = rng.integers(0, len(corrupt), n)
    rows = []
    for i in range(n):
        t = ts[i]
        la, lo = corrupt[kinds[i]] if bad[i] else (lat[i], lon[i])
        h12 = t.hour % 12 or 12
        ampm = "PM" if t.hour >= 12 else "AM"
        rows.append([str(1000 + i), f"{t.year % 100}{i:06d}.1", f"{200 + i % 800} WOODWARD AVE",
                     f"{descr[i]} - DETAIL", descr[i], f"{i % 90 + 10}01",
                     f"{t.month}/{t.day}/{t.year} {h12:02d}:00:00 {ampm}",
                     f"{t.hour:02d}:00", str(t.isoweekday() % 7 + 1), str(t.hour), str(t.year),
                     f"{i % 10}01", str(i % 12 + 1), f"26163{i % 10000:04d}",
                     f"NBHD {i % 40 + 1}", str(i % 7 + 1), f"482{i % 30:02d}",
                     lo, la, f"{t.month}/{t.day}/{t.year}",
                     f"({la}, {lo})" if la and lo else "", str(i + 1)])
    _write_csv(os.path.join(out, "Detroit.csv"), fx.DETROIT_HEADERS, rows)
    stats["Detroit"] = (n, int(n - bad.sum()))

    n = int(REFERENCE_ROWS["LosAngeles"] * scale)
    descr = _zipf_choice(rng, fx.LA_DESCR, n)
    ts = _dates(rng, n)
    lat, lon = _coords(rng, n, 34.05, -118.25, 0.15)
    bad = rng.random(n) < DROP_RATE["LosAngeles"]
    corrupt = [c for c in fx.LA_COORDS if not _kept(*c)]
    kinds = rng.integers(0, len(corrupt), n)
    gang = rng.integers(0, 3, n)
    rows = []
    for i in range(n):
        t = ts[i]
        la, lo = corrupt[kinds[i]] if bad[i] else (lat[i], lon[i])
        h12 = t.hour % 12 or 12
        ampm = "PM" if t.hour >= 12 else "AM"
        rows.append([f"{t.month:02d}/{t.day:02d}/{t.year} {h12:02d}:{t.minute:02d}:00 {ampm}",
                     str(t.year), str(i % 30 + 1), descr[i], f"{i % 1000:03d}",
                     f"{descr[i]} STAT", str(i % 3 + 1), f"{300 + i % 700} SUNSET BLVD",
                     "LOS ANGELES", "CA", f"900{i % 90:02d}", la, lo, "YN "[gang[i]].strip(),
                     str(i % 20 + 1), f"ST{i % 9 + 1}", f"STATION {i % 6 + 1}",
                     str(9000 + i), f"({la}, {lo})" if la and lo else ""])
    _write_csv(os.path.join(out, "LosAngeles.csv"), fx.LA_HEADERS, rows)
    stats["LosAngeles"] = (n, int(n - bad.sum()))
    return stats


WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()


def _table(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def corpus(out, seed, sf):
    """Write the ten corpus tables at scale factor `sf` under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)

    _table(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _table(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _table(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])})
    _table(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array(["red", "blue", "small", "large", "hot", "old", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _table(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _table(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(day0 + (days * 86400 * 10**6).astype("timedelta64[us]")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)])})
    okey = rng.integers(0, n_ord, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _table(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(day0 + (rng.integers(1, 2500, n_li) * 86400 * 10**6)
                               .astype("timedelta64[us]"))})
    ev_t0 = np.datetime64("2024-01-01", "us")
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _table(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_t0 + ev_ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"])
                               [rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # documents: token soup over the testdata's 30-word vocabulary; ~5 %
    # are near-duplicates of an earlier document (its text + " dup")
    words = np.array(WORDS)
    lens = rng.integers(10, 100, n_doc)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _table(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_doc)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    # embeddings: unit vectors scattered around one centre per label
    centres = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    v = centres[labels] + rng.normal(0, 1.5, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _table(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return {"lineitem": n_li, "documents": n_doc, "embeddings": n_emb}
