#!/usr/bin/env python3
"""Seeded generator for the raw flight CSVs the pipeline ingests.

Writes one month of flights in the BTS "Reporting Carrier On-Time
Performance" layout the bronze loader reads (19 columns, FL_DATE as
`M/d/yyyy hh:mm:ss a`, HHMM times as strings, 0/1 flags as doubles),
plus the two lookup CSVs (L_AIRPORT_ID, L_UNIQUE_CARRIERS).

The marginals follow the reference's January 2025 profile
(BASELINE.md): ~17.4k flights a day at scale 1.0 with a weekday cycle,
3.02% cancelled, 0.22% diverted, 32.8% delayed, 843 mi mean distance,
~3% null time fields. The dirty cases of FIXTURES.md section 1.1 are
mixed in at low rates: 3-digit HHMM, "2400", padded or lowercase
carrier/airport codes, 5-letter regional codes, out-of-range delays,
AIR_TIME 1441 and DISTANCE 0. Lookups carry unreferenced (dangling)
codes, and a few flown airport IDs have no lookup row.

The same (seed, year, month, scale) gives byte-identical files.

    python3 lakebench/gen_flights.py OUT_DIR --seed 7 --year 2025 \
        --month 1 --scale 0.05

prints the achieved marginals as one JSON line.
"""
import argparse
import calendar
import json
import os

import numpy as np

FLIGHTS_PER_DAY = 17414          # BASELINE.md, Jan 2025 average
CANCEL_RATE = 0.0302
DIVERT_RATE = 0.0022
DELAYED_RATE = 0.3281
MEAN_DISTANCE_MI = 843.2
# weekday cycle: Mon..Sun multipliers spanning the published 15,974 ..
# 19,676 daily range around the 17,414 mean
DOW_FACTOR = np.array([1.06, 0.95, 0.97, 1.07, 1.10, 0.92, 0.93])

CARRIERS = [
    ("AA", "American Airlines Inc."), ("AS", "Alaska Airlines Inc."),
    ("B6", "JetBlue Airways"), ("DL", "Delta Air Lines Inc."),
    ("F9", "Frontier Airlines Inc."), ("G4", "Allegiant Air"),
    ("HA", "Hawaiian Airlines Inc."), ("MQ", "Envoy Air"),
    ("NK", "Spirit Air Lines"), ("OH", "PSA Airlines Inc."),
    ("OO", "SkyWest Airlines Inc."), ("UA", "United Air Lines Inc."),
    ("WN", "Southwest Airlines Co."), ("YX", "Republic Airline"),
    ("9E", "Endeavor Air Inc."),
]
CARRIER_WEIGHTS = np.array(
    [14, 4, 4, 15, 3, 2, 1, 4, 3, 4, 12, 12, 17, 4, 3], dtype=float)
N_AIRPORTS = 340
HEADER = ("FL_DATE,OP_UNIQUE_CARRIER,OP_CARRIER_FL_NUM,ORIGIN_AIRPORT_ID,"
          "ORIGIN,DEST_AIRPORT_ID,DEST,CRS_DEP_TIME,DEP_TIME,DEP_DELAY,"
          "DEP_DELAY_NEW,CRS_ARR_TIME,ARR_TIME,ARR_DELAY,ARR_DELAY_NEW,"
          "CANCELLED,DIVERTED,AIR_TIME,DISTANCE")

_LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
_STATES = ["AL", "AZ", "CA", "CO", "FL", "GA", "IL", "KY", "LA", "MA", "MI",
           "MN", "MO", "NC", "NV", "NY", "OH", "OR", "PA", "TN", "TX", "UT",
           "VA", "WA", "WI"]


def airports(rng):
    """Fixed airport universe: unique 3-letter codes, 5-digit IDs,
    pseudo coordinates (for distances) and Zipf-like traffic weights."""
    codes, seen = [], set()
    while len(codes) < N_AIRPORTS:
        c = "".join(rng.choice(_LETTERS, 3))
        if c not in seen:
            seen.add(c)
            codes.append(c)
    ids = 10000 + rng.choice(np.arange(1, 6900), N_AIRPORTS, replace=False)
    lat = rng.uniform(25.0, 48.5, N_AIRPORTS)
    lon = rng.uniform(-124.0, -68.0, N_AIRPORTS)
    weight = 1.0 / np.arange(1, N_AIRPORTS + 1) ** 0.9
    names = [f"City{i}, {_STATES[i % len(_STATES)]}: {codes[i]} "
             f"{'Regional' if i % 3 else 'International'}"
             for i in range(N_AIRPORTS)]
    return codes, ids, lat, lon, weight / weight.sum(), names


def hhmm(minutes):
    """Minutes past midnight (any int) -> HHMM int in 0..2359."""
    m = np.mod(minutes, 1440)
    return (m // 60) * 100 + m % 60


def fmt_time(v, three_digit):
    """HHMM ints -> zero-padded 4-char strings; rows flagged three_digit
    keep the unpadded form ("945"), the silver regexp quirk."""
    v = v.astype(np.int64)
    s = np.char.zfill(v.astype(str), 4)
    return np.where(three_digit & (v < 1000), v.astype(str), s)


def fmt_num(v):
    """Doubles as the BTS CSV prints them ("5.0"), NaN -> empty."""
    nan = np.isnan(v)
    out = np.char.add(np.where(nan, 0, v).astype(np.int64).astype(str), ".0")
    return np.where(nan, "", out)


def generate(out_dir, seed, year=2025, month=1, scale=1.0):
    rng = np.random.default_rng([seed, year, month])
    world = np.random.default_rng(seed)     # airports/carriers: per seed
    codes, ids, lat, lon, aw, names = airports(world)
    days = np.arange(1, calendar.monthrange(year, month)[1] + 1)
    dows = np.array([calendar.weekday(year, month, int(d)) for d in days])
    per_day = rng.poisson(FLIGHTS_PER_DAY * scale * DOW_FACTOR[dows])
    n = int(per_day.sum())
    day = np.repeat(days, per_day)

    carrier = rng.choice(len(CARRIERS), n,
                         p=CARRIER_WEIGHTS / CARRIER_WEIGHTS.sum())
    origin = rng.choice(N_AIRPORTS, n, p=aw)
    dest = rng.choice(N_AIRPORTS, n, p=aw)
    same = origin == dest
    dest[same] = (dest[same] + 1 + rng.integers(0, N_AIRPORTS - 1,
                                                same.sum())) % N_AIRPORTS
    # flight numbers: unique per (day, carrier), so the natural key
    # (date, carrier, number, origin, scheduled departure) is unique
    order = np.lexsort((rng.random(n), carrier, day))
    fl_num = np.empty(n, dtype=np.int64)
    key = day[order] * 100 + carrier[order]
    starts = np.r_[0, np.flatnonzero(np.diff(key)) + 1]
    rank = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    fl_num[order] = 100 + rank

    # great-circle miles, rescaled to the published mean
    la1, lo1, la2, lo2 = (np.radians(a) for a in
                          (lat[origin], lon[origin], lat[dest], lon[dest]))
    h = (np.sin((la2 - la1) / 2) ** 2 +
         np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    gc = 2 * 3958.8 * np.arcsin(np.sqrt(h))
    distance = np.maximum(31.0, np.round(gc * MEAN_DISTANCE_MI / gc.mean()))
    speed_mph = np.clip(rng.normal(430, 45, n), 300, 560)
    air_time = np.round(distance / speed_mph * 60 + rng.uniform(5, 15, n))
    block = air_time + np.round(rng.uniform(15, 40, n))

    crs_dep_min = np.clip(np.round(rng.normal(13 * 60, 240, n)), 300, 1439)
    delayed = rng.random(n) < DELAYED_RATE / (1 - CANCEL_RATE)
    dep_delay = np.where(delayed,
                         np.round(rng.exponential(40.0, n)) + 1,
                         -np.round(rng.uniform(0, 12, n)))
    arr_delay = np.where(delayed,
                         np.maximum(1, dep_delay + np.round(rng.normal(2, 8, n))),
                         np.minimum(0, dep_delay - np.round(rng.uniform(0, 15, n))))
    cancelled = rng.random(n) < CANCEL_RATE
    diverted = ~cancelled & (rng.random(n) < DIVERT_RATE)

    crs_dep = hhmm(crs_dep_min)
    crs_arr = hhmm(crs_dep_min + block)
    dep = hhmm(crs_dep_min + dep_delay)
    arr = hhmm(crs_dep_min + block + arr_delay)

    dep_t = dep.astype(float)
    arr_t = arr.astype(float)
    dep_d = dep_delay.astype(float)
    arr_d = arr_delay.astype(float)
    air = air_time.astype(float)
    # cancelled: most rows carry no actuals, a few keep stale times (the
    # silver layer must null them out)
    stale = cancelled & (rng.random(n) < 0.05)
    gone = cancelled & ~stale
    for a in (dep_t, arr_t, dep_d, arr_d, air):
        a[gone] = np.nan
    for a in (arr_t, arr_d, air):
        a[diverted] = np.nan

    # dirty cases (FIXTURES.md 1.1), rare enough to keep every quality
    # gate's `mostly` threshold
    u = rng.random((8, n))
    live = ~np.isnan(dep_d) & ~np.isnan(arr_d)
    oor = live & (u[0] < 0.0004)
    pick = rng.choice(np.array([-61.0, -200.0, 2000.0, 301.0]), n)
    dep_d[oor] = pick[oor]
    air[~np.isnan(air) & (u[1] < 0.0002)] = 1441.0
    distance[u[2] < 0.0002] = 0.0
    three = u[3] < 0.02                  # keep "945" instead of "0945"
    midnight = ~np.isnan(dep_t) & (u[4] < 0.0005)
    dep_t[midnight] = 2400.0

    car = np.array([c for c, _ in CARRIERS])[carrier]
    pad = u[5] < 0.001
    car = np.where(pad, np.char.add(np.char.add(" ", car), " "), car)
    o_code = np.array(codes)[origin]
    d_code = np.array(codes)[dest]
    lower = u[6] < 0.001
    o_code = np.where(lower, np.char.lower(o_code), o_code)
    regional = u[7] < 0.0003
    d_code = np.where(regional, np.char.add(d_code, "RG"), d_code)

    dep_new = np.where(np.isnan(dep_d), np.nan, np.maximum(0, dep_d))
    arr_new = np.where(np.isnan(arr_d), np.nan, np.maximum(0, arr_d))
    date_s = np.array([f"{month}/{int(d)}/{year} 12:00:00 AM" for d in days])
    cols = [
        np.repeat(date_s, per_day), car, fl_num.astype(str),
        ids[origin].astype(str), o_code, ids[dest].astype(str), d_code,
        fmt_time(crs_dep, three), str_time(dep_t, three),
        fmt_num(dep_d), fmt_num(dep_new),
        fmt_time(crs_arr, three), str_time(arr_t, three),
        fmt_num(arr_d), fmt_num(arr_new),
        np.where(cancelled, "1.0", "0.0"), np.where(diverted, "1.0", "0.0"),
        fmt_num(air), fmt_num(distance)]
    os.makedirs(out_dir, exist_ok=True)
    flights = os.path.join(out_dir, "flights.csv")
    with open(flights, "w", newline="\n") as f:
        f.write(HEADER + "\n")
        for row in zip(*(c.tolist() for c in cols)):
            f.write(",".join(row))
            f.write("\n")

    # lookups: airports referenced by flights minus a few (missing
    # names), plus dangling rows nobody flies to
    missing = set(ids[-3:].tolist())
    with open(os.path.join(out_dir, "L_AIRPORT_ID.csv"), "w") as f:
        f.write("Code,Description\n")
        for i in range(N_AIRPORTS):
            if int(ids[i]) in missing:
                continue
            pad_name = f" {names[i]} " if i % 17 == 0 else names[i]
            f.write(f'{int(ids[i])},"{pad_name}"\n')
        for k in range(5):
            f.write(f'{99990 + k},"Dangling{k}, ZZ: Never Referenced"\n')
    with open(os.path.join(out_dir, "L_UNIQUE_CARRIERS.csv"), "w") as f:
        f.write("Code,Description\n")
        for c, name in CARRIERS:
            f.write(f'{c},"{name}"\n')
        f.write('XX,"Dangling Carrier"\n')

    valid_time = ~np.isnan(dep_t)
    is_delayed = live & ((dep_d > 0) | (arr_d > 0))
    return {
        "rows": n, "days": int(len(days)),
        "flights_per_day": round(n / len(days), 1),
        "cancelled_pct": round(100 * cancelled.mean(), 3),
        "diverted_pct": round(100 * diverted.mean(), 3),
        "delayed_pct": round(100 * is_delayed.mean(), 3),
        "mean_distance_mi": round(float(distance.mean()), 1),
        "null_dep_time_pct": round(100 * (~valid_time).mean(), 3),
        "null_arr_delay_pct": round(100 * np.isnan(arr_d).mean(), 3),
        "csv_bytes": os.path.getsize(flights),
    }


def str_time(v, three_digit):
    """Nullable HHMM doubles -> strings, NaN -> empty field."""
    return np.where(np.isnan(v), "",
                    fmt_time(np.where(np.isnan(v), 0, v), three_digit))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--year", type=int, default=2025)
    ap.add_argument("--month", type=int, default=1)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="fraction of the reference's 17.4k flights/day")
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.year, a.month, a.scale)))


if __name__ == "__main__":
    main()
