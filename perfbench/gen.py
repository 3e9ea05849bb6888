"""Seeded input generator for the benchmark.

Two input sets, both a pure function of the seed:

* ``etl``: one generated month of the reference pipeline's four raw
  inputs, in the layouts of ``graft.pipeline.Schemas.raw*`` (demographics
  ``;``-CSV, ourairports CSV, Kaggle city temperatures CSV, I-94 CSV with
  its unnamed leading index column). The FIXTURES.md A1-A4 cases are
  planted at fixed rates, and the reference's 10 validation counts are
  computed here from the generated rows, without any query engine.
* ``tables``: the ten parquet tables of TESTDATA.md (TPC-H-ish star,
  events, documents, embeddings) at the sf0.01 row counts.

Output is cached per seed under ``<root>/seed-<n>/<set>/`` and marked
complete with a ``_DONE`` file, so a repeated seed costs nothing.
"""
import glob
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Bumped whenever the generated bytes change, so stale caches regenerate.
VERSION = 1

RACES = ["White", "Hispanic or Latino", "Asian",
         "American Indian and Alaska Native", "Black or African-American"]

# Planted-case rates (share of rows of the affected input).
RATE_PORT_XXX = 0.02        # i94port = 'XXX'
RATE_NULL_GENDER = 0.03     # gender null
RATE_NULL_ARRDATE = 0.01    # arrdate null
RATE_UNKNOWN_PORT = 0.05    # i94port with no US airport (fact join drops it)
RATE_CITY_MISSING_RACE = 0.02
RATE_CITY_DUPLICATED = 0.03
RATE_TEMP_NULL = 0.02       # one null field in a US temperature row

ETL_SIZES = {"travelers": 30_000, "cities": 600, "airports": 3_000,
             "temp_cities": 100, "temp_months": 120}

STATES = [("Alabama", "AL"), ("Arizona", "AZ"), ("California", "CA"),
          ("Colorado", "CO"), ("Florida", "FL"), ("Georgia", "GA"),
          ("Illinois", "IL"), ("Indiana", "IN"), ("Kansas", "KS"),
          ("Michigan", "MI"), ("Minnesota", "MN"), ("Missouri", "MO"),
          ("Nevada", "NV"), ("New York", "NY"), ("Ohio", "OH"),
          ("Oregon", "OR"), ("Texas", "TX"), ("Utah", "UT"),
          ("Virginia", "VA"), ("Washington", "WA")]

SYL = ["ab", "ber", "cal", "dor", "el", "fen", "gar", "hol", "is", "jun",
       "kel", "lan", "mor", "nor", "ost", "pen", "quin", "ros", "sal", "tor",
       "ul", "ven", "wil", "yor"]


def _names(rng, n, taken=()):
    """n distinct capitalised pseudo-city names, none in ``taken``."""
    out, seen = [], set(taken)
    while len(out) < n:
        k = int(rng.integers(2, 4))
        name = "".join(SYL[i] for i in rng.integers(0, len(SYL), k)).capitalize()
        if name not in seen:
            seen.add(name)
            out.append(name)
    return out


def _iata_codes(rng, n):
    """n distinct 3-letter codes, never 'XXX'."""
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out, seen = [], {"XXX"}
    while len(out) < n:
        c = "".join(letters[rng.integers(0, 26, 3)])
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def _write_csv(path, cols, names, delimiter=","):
    table = pa.table(cols, names=names)
    pacsv.write_csv(table, path, write_options=pacsv.WriteOptions(
        delimiter=delimiter, quoting_style="needed"))


def _cities(rng, n_cities):
    """Demographic (City, State, State Code) base rows. Albany appears in
    both NY and GA; every other name is unique."""
    names = _names(rng, n_cities - 2, taken={"Albany"})
    st = rng.integers(0, len(STATES), n_cities - 2)
    rows = [(n, STATES[s][0], STATES[s][1]) for n, s in zip(names, st)]
    rows += [("Albany", "New York", "NY"), ("Albany", "Georgia", "GA")]
    return rows


def gen_etl(seed, out_dir, sizes=ETL_SIZES):
    """Write the four raw CSVs and ``expected.json`` (the 10 validation
    counts and the planted-case counts) into out_dir."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    expected = {}

    # ---- demographics (A1) -------------------------------------------
    cities = _cities(rng, sizes["cities"])
    n = len(cities)
    missing = rng.random(n) < RATE_CITY_MISSING_RACE
    dup = (rng.random(n) < RATE_CITY_DUPLICATED) & ~missing
    # both Albanys stay complete: they carry the name-only fan-out case
    missing[-2:] = False
    base = {
        "Median Age": np.round(rng.uniform(25, 45, n), 1),
        "Male Population": rng.integers(20_000, 400_000, n),
        "Female Population": rng.integers(20_000, 400_000, n),
        "Number of Veterans": rng.integers(500, 20_000, n),
        "Foreign-born": rng.integers(500, 90_000, n),
        "Average Household Size": np.round(rng.uniform(2.0, 3.5, n), 2),
    }
    total = base["Male Population"] + base["Female Population"]
    c_cols = {k: [] for k in ["City", "State", "Median Age", "Male Population",
                              "Female Population", "Total Population",
                              "Number of Veterans", "Foreign-born",
                              "Average Household Size", "State Code", "Race",
                              "Count"]}
    for i, (city, state, code) in enumerate(cities):
        races = list(RACES)
        if missing[i]:
            races.pop(int(rng.integers(0, len(RACES))))
        counts = rng.integers(100, 50_000, len(races))
        for _ in range(2 if dup[i] else 1):
            for race, cnt in zip(races, counts):
                c_cols["City"].append(city)
                c_cols["State"].append(state)
                for k in ["Median Age", "Male Population", "Female Population",
                          "Number of Veterans", "Foreign-born",
                          "Average Household Size"]:
                    c_cols[k].append(base[k][i].item())
                c_cols["Total Population"].append(int(total[i]))
                c_cols["State Code"].append(code)
                c_cols["Race"].append(race)
                c_cols["Count"].append(int(cnt))
    _write_csv(os.path.join(out_dir, "us-cities-demographics.csv"),
               list(c_cols.values()), list(c_cols.keys()), delimiter=";")
    staging_cities = {(c, code) for (c, _, code), m in zip(cities, missing) if not m}
    expected["staging_cities"] = int((~missing).sum())
    expected["planted_city_missing_race"] = int(missing.sum())
    expected["planted_city_duplicated"] = int(dup.sum())

    # ---- airports (A2) -----------------------------------------------
    # US airports with a usable iata code sit in ~60% of the demographic
    # cities (1-3 each) plus airport-only cities; both Albanys and a
    # two-airport Chicago are always present.
    has_air = rng.random(n) < 0.6
    has_air[-2:] = True
    air_cities = [(c, code) for (c, _, code), h in zip(cities, has_air) if h]
    extra = _names(rng, 40, taken={c for c, _, _ in cities} | {"Chicago"})
    air_cities += [(c, STATES[int(rng.integers(0, len(STATES)))][1]) for c in extra]
    per_city = rng.integers(1, 4, len(air_cities))
    us_air = [cc for cc, k in zip(air_cities, per_city) for _ in range(k)]
    us_air += [("Chicago", "IL"), ("Chicago", "IL")]
    n_us = len(us_air)
    n_bad_iata = 150             # US rows with null / '0' / '-' iata codes
    n_foreign = 300              # non-US rows with an iata code
    n_bulk = max(0, sizes["airports"] - n_us - n_bad_iata - n_foreign)
    codes = _iata_codes(rng, n_us + n_foreign)
    a = {k: [] for k in ["ident", "type", "name", "elevation_ft", "continent",
                         "iso_country", "iso_region", "municipality",
                         "gps_code", "iata_code", "local_code", "coordinates"]}

    def add_airport(ident, iata, country, region, city, lon, lat):
        a["ident"].append(ident)
        a["type"].append(["small_airport", "medium_airport", "large_airport",
                          "heliport"][len(a["ident"]) % 4])
        a["name"].append(f"{city or 'Remote'} Field {ident}")
        a["elevation_ft"].append(float(len(a["ident"]) % 3000))
        a["continent"].append("NA" if country == "US" else "EU")
        a["iso_country"].append(country)
        a["iso_region"].append(region)
        a["municipality"].append(city)
        a["gps_code"].append(ident)
        a["iata_code"].append(iata)
        a["local_code"].append(None)
        a["coordinates"].append(f"{lon:.4f}, {lat:.4f}")

    lon = rng.uniform(-170, 145, n_us + n_bad_iata + n_foreign + n_bulk)
    lat = rng.uniform(-14, 65, lon.size)
    j = 0
    for (city, code), iata in zip(us_air, codes):
        add_airport(f"K{j:05d}", iata, "US", f"US-{code}", city, lon[j], lat[j])
        j += 1
    for k in range(n_bad_iata):
        city, code = air_cities[k % len(air_cities)]
        add_airport(f"B{k:05d}", [None, "0", "-"][k % 3], "US", f"US-{code}",
                    city, lon[j], lat[j])
        j += 1
    for k in range(n_foreign):
        add_airport(f"F{k:05d}", codes[n_us + k], ["CA", "MX", "GB", "DE"][k % 4],
                    "CA-ON", f"Foreign{k % 200}", lon[j], lat[j])
        j += 1
    for k in range(n_bulk):
        add_airport(f"Z{k:06d}", None, ["US", "CA", "BR"][k % 3], "US-TX",
                    None, lon[j], lat[j])
        j += 1
    _write_csv(os.path.join(out_dir, "airport-codes_csv.csv"),
               list(a.values()), list(a.keys()))
    us_codes = set(codes[:n_us])
    city_dim = sorted(set(us_air))
    names_in_dim = {}
    for c, _ in city_dim:
        names_in_dim[c] = names_in_dim.get(c, 0) + 1
    expected["staging_airports"] = n_us
    expected["city"] = len(city_dim)
    expected["airports"] = n_us
    expected["statistics"] = len(staging_cities & set(city_dim))
    expected["planted_bad_iata"] = n_bad_iata
    expected["planted_foreign_airports"] = n_foreign

    # ---- temperatures (A3) -------------------------------------------
    # monthly rows ending 2013-09 (Q3 filters 2013-04); cities drawn from
    # the airport cities (name-only join) plus Canada rows
    n_tc, n_m = sizes["temp_cities"], sizes["temp_months"]
    dim_names = sorted(names_in_dim)
    t_us = [dim_names[i] for i in rng.permutation(len(dim_names))[:min(n_tc - 20, len(dim_names))]]
    if "Albany" not in t_us:
        t_us[0] = "Albany"
    t_cities = [(c, "United States") for c in t_us] + \
               [(f"Toronto{k}", "Canada") for k in range(n_tc - len(t_us))]
    end = 2013 * 12 + 8        # September 2013, months counted from 0
    months = [divmod(end - n_m + 1 + i, 12) for i in range(n_m)]
    months = [(y, m + 1) for y, m in months]
    assert months[-1] == (2013, 9), months[-1]
    t = {k: [] for k in ["dt", "AverageTemperature", "AverageTemperatureUncertainty",
                         "City", "Country", "Latitude", "Longitude"]}
    temps = np.round(rng.uniform(-10, 35, len(t_cities) * n_m), 3)
    unc = np.round(rng.uniform(0.1, 2.0, temps.size), 3)
    nulls = rng.random(temps.size) < RATE_TEMP_NULL
    null_col = rng.integers(0, 3, temps.size)
    staging_temps = 0
    fanout_temps = 0
    k = 0
    for city, country in t_cities:
        for (y, m) in months:
            row = {"dt": f"{y:04d}-{m:02d}-01", "AverageTemperature": temps[k].item(),
                   "AverageTemperatureUncertainty": unc[k].item(), "City": city,
                   "Country": country, "Latitude": "40.71N", "Longitude": "74.01W"}
            if nulls[k]:
                row[["AverageTemperature", "AverageTemperatureUncertainty",
                     "Latitude"][null_col[k]]] = None
            elif country == "United States":
                staging_temps += 1
                fanout_temps += names_in_dim.get(city, 0)
            for c in t:
                t[c].append(row[c])
            k += 1
    _write_csv(os.path.join(out_dir, "GlobalLandTemperaturesByCity.csv"),
               list(t.values()), list(t.keys()))
    expected["staging_temperatures"] = staging_temps
    expected["temperatures"] = fanout_temps
    expected["planted_temp_nulls"] = int(nulls.sum())
    expected["planted_temp_canada"] = (len(t_cities) - len(t_us)) * n_m

    # ---- I-94 travelers (A4) -----------------------------------------
    nt = sizes["travelers"]
    us_list = sorted(us_codes)
    unknown = _iata_codes(np.random.default_rng([seed, 2]), 400)
    unknown = [c for c in unknown if c not in us_codes and c not in codes][:50]
    port = np.array(us_list, dtype=object)[rng.integers(0, len(us_list), nt)]
    u = rng.random(nt)
    port[u < RATE_UNKNOWN_PORT] = np.array(unknown, dtype=object)[
        rng.integers(0, len(unknown), int((u < RATE_UNKNOWN_PORT).sum()))]
    xxx = rng.random(nt) < RATE_PORT_XXX
    port[xxx] = "XXX"
    gender = np.array(["M", "F"], dtype=object)[rng.integers(0, 2, nt)]
    null_gender = rng.random(nt) < RATE_NULL_GENDER
    gender[null_gender] = None
    arrdate = (20545 + rng.integers(0, 30, nt)).astype(float)   # April 2016
    null_arr = rng.random(nt) < RATE_NULL_ARRDATE
    kept = ~xxx & ~null_gender
    fact = kept & np.isin(port, us_list)
    # The fact count must be coprime with 10: Q3's percentages are then
    # never an exact decimal tie, where HALF_UP on the shortest decimal
    # (Spark) and round(x*100) (DuckDB) may disagree.
    fix = np.flatnonzero(fact)
    f_i = len(fix) - 1
    while math.gcd(int(fact.sum()), 10) != 1:
        port[fix[f_i]] = "XXX"
        xxx[fix[f_i]] = True
        kept[fix[f_i]] = False
        fact[fix[f_i]] = False
        f_i -= 1
    age = rng.integers(1, 90, nt)
    n_xxx, n_null_g = int(xxx.sum()), int(null_gender.sum())
    arr_col = pa.array(arrdate, mask=null_arr)
    cols = {
        "": pa.array(np.arange(nt)),
        "cicid": pa.array(np.arange(nt) * 7.0 + 1),
        "i94yr": pa.array(np.full(nt, 2016.0)),
        "i94mon": pa.array(np.full(nt, 4.0)),
        "i94cit": pa.array(rng.integers(100, 700, nt).astype(float)),
        "i94res": pa.array(rng.integers(100, 700, nt).astype(float)),
        "i94port": pa.array(port, type=pa.string()),
        "arrdate": arr_col,
        "i94mode": pa.array(np.full(nt, 1.0)),
        "i94addr": pa.array(np.array([s[1] for s in STATES], dtype=object)[
            rng.integers(0, len(STATES), nt)], type=pa.string()),
        "depdate": pa.array(arrdate + rng.integers(1, 40, nt)),
        "i94bir": pa.array(age.astype(float)),
        "i94visa": pa.array(rng.integers(1, 4, nt).astype(float)),
        "count": pa.array(np.full(nt, 1.0)),
        "dtadfile": pa.array(np.full(nt, "20160401", dtype=object), type=pa.string()),
        "visapost": pa.array(np.full(nt, "SYD", dtype=object), type=pa.string()),
        "occup": pa.array([None] * nt, type=pa.string()),
        "entdepa": pa.array(np.full(nt, "G", dtype=object), type=pa.string()),
        "entdepd": pa.array(np.full(nt, "O", dtype=object), type=pa.string()),
        "entdepu": pa.array([None] * nt, type=pa.string()),
        "matflag": pa.array(np.full(nt, "M", dtype=object), type=pa.string()),
        "biryear": pa.array((2016 - age).astype(float)),
        "dtaddto": pa.array(np.full(nt, "10292016", dtype=object), type=pa.string()),
        "gender": pa.array(gender, type=pa.string()),
        "insnum": pa.array([None] * nt, type=pa.string()),
        "airline": pa.array(np.array(["QF", "AA", "UA", "DL"], dtype=object)[
            rng.integers(0, 4, nt)], type=pa.string()),
        "admnum": pa.array(rng.integers(10**9, 10**10, nt).astype(float)),
        "fltno": pa.array(rng.integers(1, 9999, nt).astype(str).astype(object), type=pa.string()),
        "visatype": pa.array(np.array(["B1", "B2", "F1", "WT"], dtype=object)[
            rng.integers(0, 4, nt)], type=pa.string()),
    }
    _write_csv(os.path.join(out_dir, "immigration_data_sample.csv"),
               list(cols.values()), list(cols.keys()))
    expected["staging_travelers"] = int(kept.sum())
    expected["travelers"] = int(fact.sum())
    expected["visa_codes"] = 3
    expected["planted_port_xxx"] = n_xxx
    expected["planted_null_gender"] = n_null_g
    expected["planted_null_arrdate"] = int(null_arr.sum())
    expected["planted_unknown_port"] = int((kept & ~fact).sum())
    expected["raw_rows"] = len(c_cols["City"]) + len(a["ident"]) + len(t["dt"]) + nt
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


VALIDATION_TABLES = ["airports", "city", "staging_airports", "staging_cities",
                     "staging_temperatures", "staging_travelers", "statistics",
                     "temperatures", "travelers", "visa_codes"]

VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()

TABLE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
              "events": 10000, "documents": 500, "embeddings": 500}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(seed, out_dir):
    """Write the ten TESTDATA.md tables as single-file parquet."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_, no = (TABLE_ROWS[t] for t in ("customer", "supplier", "part", "orders"))
    write("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, nc),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, nc)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, ns)})
    adj = ["small", "red", "blue", "large", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "pipe", "valve"]
    write("part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{adj[rng.integers(0, 6)]} {noun[rng.integers(0, 6)]}" for _ in range(np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE",
                            "PROMO"])[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)})
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 4 * 365, no).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, no)]})
    nlines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), nlines)
    nl = okey.size
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in nlines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, 900, 100000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, nl).astype("timedelta64[D]"),
                               pa.timestamp("us"))})
    ne = TABLE_ROWS["events"]
    gaps = rng.integers(1, 520_000_000, ne)  # microseconds, ~30 days total
    write("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": np.array(["click", "view", "signup", "purchase", "error"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = TABLE_ROWS["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document with two words replaced
            w = texts[int(rng.integers(0, len(texts)))].split(" ")
            for p in rng.integers(0, len(w), 2):
                w[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            t = " ".join(w)
        else:
            t = " ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(8, 90))))
        while t in texts:
            t += " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(t)
    write("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "de", "fr", "es"])[rng.integers(0, 7, nd)],
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = TABLE_ROWS["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] * 0.4 + rng.normal(0, 1, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


KEEP_SEEDS = 4


def cached(root, seed, kind):
    """Return (dir, seconds spent generating; 0.0 on a cache hit). Keeps
    the inputs of the KEEP_SEEDS most recently generated seeds."""
    import time
    out = os.path.join(root, f"seed-{seed}", kind)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done) and open(done).read() == str(VERSION):
        return out, 0.0
    old = sorted(glob.glob(os.path.join(root, "seed-*", kind, "_DONE")), key=os.path.getmtime)
    for d in old[:max(0, len(old) - KEEP_SEEDS + 1)]:
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    (gen_etl if kind == "etl" else gen_tables)(seed, out)
    with open(done, "w") as f:
        f.write(str(VERSION))
    return out, time.perf_counter() - t0
