"""Seeded input generators for the benchmark.

Everything the program reads during a benchmark run is made here from
the workload seed: the TPC-H-shaped board tables (plus events,
documents and embeddings) and the per-minute OpenSky/Open-Meteo raw
snapshots of the medallion pipeline. The same seed always gives the
same bytes, and the program never sees anything but these files.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# France bounding box [lat_min, lat_max, lon_min, lon_max], the paper's
# OpenSky query area.
BBOX = (41.3, 51.1, -5.1, 9.6)

# The paper's six Open-Meteo stations (lat, lon, elevation).
STATIONS = [
    (48.709632, 2.208563, 89.0),    # Paris CDG
    (43.629421, 1.367789, 152.0),   # Toulouse
    (45.726009, 5.090928, 250.0),   # Lyon
    (43.434242, 5.212784, 21.0),    # Marseille
    (47.460152, -0.529704, 27.0),   # Nantes
    (50.561237, 3.086957, 47.0),    # Lille
]

COUNTRIES = ["France", "Germany", "Spain", "Italy", "United Kingdom",
             "Belgium", "Switzerland", "Netherlands"]

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


# ---------------------------------------------------------------- boards

def _ts(base, seconds):
    return (np.datetime64(base, "us")
            + (np.asarray(seconds) * 1e6).astype("int64").astype("timedelta64[us]"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def board_tables(seed, sf, out_dir):
    """Write the ten board tables at scale factor `sf` into `out_dir`.

    Shapes follow the TPC-H-ish star schema the queries are written
    against: 25 nations over 5 regions, 150k*sf customers, 1.5M*sf
    orders, 6M*sf line items, 1M*sf events over January 2024, and a
    fixed 500-row document and embedding corpus.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = n_vecs = 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    colors = ["red", "blue", "green", "small", "large", "steel", "brass"]
    things = ["widget", "bolt", "ring", "gear", "pipe", "valve"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{colors[a]} {things[b]}" for a, b in zip(
            rng.integers(0, len(colors), n_part),
            rng.integers(0, len(things), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    day0 = np.datetime64("1995-01-01", "D")
    order_day = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array((day0 + order_day).astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    l_ord = rng.integers(0, n_ord, n_line)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    ship_day = np.minimum(order_day[l_ord] + rng.integers(1, 122, n_line), 2499)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array((day0 + ship_day).astype("datetime64[us]"),
                               pa.timestamp("us"))})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(_ts("2024-01-01", secs), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_evt)],
        "value": np.round(np.maximum(rng.exponential(50.0, n_evt), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word changed
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 100)))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[
            rng.integers(0, 7, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in
                               vecs.astype("float32")],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ------------------------------------------------------------- medallion

def _num(x, digits):
    return round(float(x), digits)


def flight_snapshot(rng, n_states, epoch):
    """One OpenSky `/states/all` payload over the France bbox.

    Rows come from the three phase groups (low and slow, climbing or
    descending, cruising) so the K-means phase path is taken, plus
    about 3% edge rows: null lat/lon (dropped by format), truncated
    state arrays, blank callsigns and non-numeric strings in numeric
    slots. Returns (payload, expected_rows, expected_docs) where the
    expectations are what the pipeline must produce from it.
    """
    states = []
    kept_icao = set()
    kept = 0
    icaos = rng.choice(16 ** 6, size=n_states, replace=False)
    for i in range(n_states):
        icao = f"{int(icaos[i]):06x}"
        group = rng.integers(0, 3)
        if group == 0:
            alt, vel, vr = rng.normal(150, 60), rng.normal(50, 8), rng.normal(0, 1.5)
        elif group == 1:
            alt, vel = rng.normal(2500, 700), rng.normal(150, 20)
            vr = rng.choice([-1.0, 1.0]) * rng.normal(12, 3)
        else:
            alt, vel, vr = rng.normal(11000, 900), rng.normal(230, 15), rng.normal(0, 1.5)
        alt = max(alt, 0.0)
        lat = rng.uniform(BBOX[0], BBOX[1])
        lon = rng.uniform(BBOX[2], BBOX[3])
        callsign = f"{['AFR', 'DLH', 'EZY', 'RYR', 'BAW'][i % 5]}{int(rng.integers(1, 9999))}"
        row = [icao, f"{callsign:<8}", COUNTRIES[int(rng.integers(0, len(COUNTRIES)))],
               epoch - int(rng.integers(0, 10)), epoch - int(rng.integers(0, 5)),
               _num(lon, 4), _num(lat, 4), _num(alt, 1), bool(group == 0 and alt < 50),
               _num(vel, 2), _num(rng.uniform(0, 360), 1), _num(vr, 2), None,
               _num(alt + rng.normal(100, 30), 1), f"{int(rng.integers(0, 7777)):04d}",
               False, int(rng.integers(0, 4))]
        edge = rng.random()
        if edge < 0.01:
            row[5 + int(rng.integers(0, 2))] = None          # null lon or lat
        elif edge < 0.015:
            row[int(rng.integers(5, 7))] = "n/a"             # non-numeric lat/lon
        elif edge < 0.02:
            row = row[:8]                                    # truncated array
        elif edge < 0.025:
            row[1] = "        "                              # blank callsign
        elif edge < 0.03:
            row[9] = "fast"                                  # non-numeric velocity
        states.append(row)
        if isinstance(row[5], float) and isinstance(row[6], float):
            kept += 1
            kept_icao.add(icao)
    payload = {
        "time": epoch,
        "_extracted_at": dt.datetime.fromtimestamp(epoch + 5, dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f"),
        "states": states,
    }
    return payload, kept, len(kept_icao)


def weather_snapshot(rng, epoch):
    """One Open-Meteo response list for the six stations."""
    t = dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
    out = []
    for lat, lon, elev in STATIONS:
        rain = _num(max(rng.normal(0.3, 1.0), 0.0), 1)
        out.append({
            "latitude": lat, "longitude": lon, "elevation": elev,
            "_extracted_at": (t + dt.timedelta(seconds=3)).strftime("%Y-%m-%dT%H:%M:%S.%f"),
            "current": {
                "time": t.strftime("%Y-%m-%dT%H:00"),
                "temperature_2m": _num(rng.normal(10, 6), 1),
                "relative_humidity_2m": int(rng.integers(30, 100)),
                "wind_speed_10m": _num(abs(rng.normal(15, 8)), 1),
                "wind_direction_10m": int(rng.integers(0, 360)),
                "wind_gusts_10m": _num(abs(rng.normal(35, 20)), 1),
                "precipitation": rain, "rain": rain,
                "cloud_cover": int(rng.integers(0, 101)),
                "weather_code": int(rng.choice([0, 1, 2, 3, 45, 61, 63, 80, 95])),
                "visibility": _num(rng.uniform(500, 40000), 1),
            },
        })
    return out


def medallion_inputs(seed, n_states, n_snapshots, base_epoch, out_dir):
    """Write `n_snapshots` consecutive minute snapshots under `out_dir`.

    Snapshot k lives in `snap_k/flights_raw.json` and
    `snap_k/weather_raw.json`: the file names stay the same across
    snapshots so each replay overwrites the raw partition, as the cron
    does. Returns one expectation record per snapshot.
    """
    rng = np.random.default_rng([seed, 2])
    expected = []
    for k in range(n_snapshots):
        epoch = base_epoch + 60 * k
        d = os.path.join(out_dir, f"snap_{k}")
        os.makedirs(d, exist_ok=True)
        payload, rows, docs = flight_snapshot(rng, n_states, epoch)
        with open(os.path.join(d, "flights_raw.json"), "w") as f:
            json.dump(payload, f)
        with open(os.path.join(d, "weather_raw.json"), "w") as f:
            json.dump(weather_snapshot(rng, epoch), f)
        expected.append({"dir": d, "epoch": epoch, "states": n_states, "rows": rows,
                         "docs": docs})
    return expected
