"""Seeded input generator for the `monthly_batch` workload, with the
expected outputs computed independently of the program.

It writes, under <out_dir>:
- `world.jsonl`: the country dim, one polygon per line
  (`country`, `region`, `rings`). 258 seeded 80-gons: together they hold
  more vertices than `Geo.SpatialLiteralMaxVertices`, as real Natural
  Earth geometry does, so enrichment takes the broadcast-probe path.
- `base.jsonl`, `month-NN.jsonl`: USGS-style GeoJSON features, one per
  line. The inputs hold exact duplicates, out-of-range magnitudes and
  coordinates, timestamps past the clean bound, late rows below the
  staging watermark, and points no polygon claims (half of them name a
  country in `place`, so the regex fallback runs).
- `ops.tsv`: the operations in run order; the last one replays the last
  month.
- `expected.json`: rows inserted per operation, the final key set as a
  CRC32 digest, and per-country counts.

    python3 perfbench/gen_monthly.py <out_dir> <seed>
"""
import json
import math
import os
import sys
import zlib

import numpy as np

N_COUNTRIES = 258
VERTICES = 80
CELL = 15.0
BASE_ROWS = 5_000
MONTH_ROWS = 5_000
MONTHS = 2
DAY_MS = 86_400_000
BASE_START_MS = 946_684_800_000  # 2000-01-01
MONTHS_START_MS = 1_577_836_800_000  # 2020-01-01
MONTH_MS = 30 * DAY_MS
TS_HI_MS = 4_102_444_800_000  # 2100-01-01, the clean bound
LATE_MS = 5_680_281_600_000  # 2150-01-01, past the clean bound
DIRECTIONS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW"]
REGIONS = ["Americas", "Europe", "Africa", "Asia", "Oceania"]
TYPES = ["earthquake", "earthquake", "earthquake", "quarry blast",
         "explosion", "ice quake"]
ALERTS = [None, None, None, "green", "yellow", "orange", "red"]


def world(rng):
    """Seeded country polygons, one per grid cell, far from each other."""
    cells = [(i, j) for j in range(11) for i in range(24)]
    keep = sorted(rng.choice(len(cells), N_COUNTRIES, replace=False))
    out = []
    for k, c in enumerate(keep):
        i, j = cells[c]
        cx = -180.0 + CELL / 2 + i * CELL + rng.uniform(-1.0, 1.0)
        cy = -75.0 + j * CELL + rng.uniform(-1.0, 1.0)
        r = rng.uniform(4.5, 5.0)
        ring = [[round(cx + r * math.cos(2 * math.pi * v / VERTICES), 6),
                 round(cy + r * math.sin(2 * math.pi * v / VERTICES), 6)]
                for v in range(VERTICES)]
        ring.append(ring[0])
        out.append({"country": f"Terra{k:03d}",
                    "region": REGIONS[i * len(REGIONS) // 24],
                    "rings": [ring], "cx": cx, "cy": cy, "r": r})
    return out


def events(rng, countries, n, start_ms, span_ms, prev_start_ms):
    """`n` events in [start_ms, start_ms + span_ms), plus the hostile rows.
    Returns (rows, expected country per (place, time))."""
    times = start_ms + np.sort(rng.choice(span_ms, n, replace=False))
    rows, country = [], {}
    for idx, t in enumerate(times):
        t = int(t)
        kind = rng.random()
        if kind < 0.75:  # inside a polygon
            c = countries[int(rng.integers(0, len(countries)))]
            a, d = rng.uniform(0, 2 * math.pi), rng.uniform(0, 0.7 * c["r"])
            lon, lat = c["cx"] + d * math.cos(a), c["cy"] + d * math.sin(a)
            place = (f"{int(rng.integers(1, 300))} km "
                     f"{DIRECTIONS[int(rng.integers(0, 8))]} of Station {idx}")
            expect = c["country"]
        else:  # a cell corner, which no polygon claims
            i, j = int(rng.integers(0, 24)), int(rng.integers(0, 11))
            dx = rng.uniform(6.5, 7.4) * rng.choice([-1, 1])
            dy = rng.uniform(6.5, 7.4) * rng.choice([-1, 1])
            lon = -180.0 + CELL / 2 + i * CELL + dx
            lat = -75.0 + j * CELL + dy
            if rng.random() < 0.5:
                named = countries[int(rng.integers(0, len(countries)))]["country"]
                place, expect = f"Off the coast of {named} {idx}", named
            else:
                place, expect = f"Ocean ridge {idx}", None
        mag = round(float(rng.uniform(-0.5, 9.0)), 1)
        bad = rng.random()
        if bad < 0.004:
            mag = None
        elif bad < 0.008:
            mag = -2.5
        elif bad < 0.012:
            mag = 11.0
        elif bad < 0.016:
            lat = 95.0
        elif bad < 0.020:
            lon = 190.0
        elif bad < 0.022:
            t = LATE_MS + idx
        elif bad < 0.032 and prev_start_ms is not None:
            t = prev_start_ms + int(rng.integers(0, span_ms))  # late row
        depth = None if rng.random() < 0.05 else round(float(rng.uniform(0, 700)), 2)
        rows.append({
            "place": place, "time": t, "mag": mag,
            "lon": round(lon, 6), "lat": round(lat, 6), "depth": depth,
            "alert": ALERTS[int(rng.integers(0, len(ALERTS)))],
            "tsunami": int(rng.integers(0, 2)),
            "type": TYPES[int(rng.integers(0, len(TYPES)))]})
        country[(place, t)] = expect
    dups = [rows[int(k)] for k in rng.integers(0, len(rows), len(rows) // 50)]
    return rows + dups, country


def feature(r):
    return json.dumps({
        "type": "Feature",
        "properties": {"place": r["place"], "time": r["time"], "mag": r["mag"],
                       "alert": r["alert"], "tsunami": r["tsunami"],
                       "tz": None, "type": r["type"]},
        "geometry": {"type": "Point",
                     "coordinates": [r["lon"], r["lat"], r["depth"]]}})


def valid(r):
    return (r["mag"] is not None and -1 <= r["mag"] <= 10
            and -90 <= r["lat"] <= 90 and -180 <= r["lon"] <= 180
            and r["time"] <= TS_HI_MS)


def key_digest(keys):
    """Order-insensitive digest of (place, epoch-ms) keys: count, wrapped
    64-bit sum and xor of CRC32("place|ms"), as signed 64-bit values."""
    total, xor = 0, 0
    for place, t in keys:
        c = zlib.crc32(f"{place}|{t}".encode("utf-8"))
        total, xor = (total + c) % (1 << 64), xor ^ c
    signed = total - (1 << 64) if total >= 1 << 63 else total
    return len(keys), signed, xor


def expected(ops, files, country):
    """Replay the pipeline's documented semantics: clean filters, dedup on
    (place, time), keep rows above the staging watermark, insert keys the
    staging table lacks."""
    staging, inserted = set(), {}
    for name, f in ops:
        keys = {(r["place"], r["time"]) for r in files[f] if valid(r)}
        wm = max((t for _, t in staging), default=None)
        fresh = {k for k in keys if wm is None or k[1] > wm} - staging
        inserted[name] = len(fresh)
        staging |= fresh
    counts = {}
    for k in staging:
        c = country[k] or ""
        counts[c] = counts.get(c, 0) + 1
    n, total, xor = key_digest(staging)
    return {"inserted": inserted, "keys_n": n, "keys_sum": total,
            "keys_xor": xor, "countries": counts}


def write(out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    countries = world(rng)
    with open(os.path.join(out_dir, "world.jsonl"), "w") as fh:
        for c in countries:
            fh.write(json.dumps({k: c[k] for k in ("country", "region", "rings")}) + "\n")
    files, country = {}, {}
    rows, exp = events(rng, countries, BASE_ROWS, BASE_START_MS,
                       MONTHS_START_MS - BASE_START_MS, None)
    files["base.jsonl"] = rows
    country.update(exp)
    ops = [("base", "base.jsonl")]
    for m in range(MONTHS):
        start = MONTHS_START_MS + m * MONTH_MS
        prev = start - MONTH_MS
        rows, exp = events(rng, countries, MONTH_ROWS, start, MONTH_MS, prev)
        files[f"month-{m + 1:02d}.jsonl"] = rows
        country.update(exp)
        ops.append((f"month-{m + 1:02d}", f"month-{m + 1:02d}.jsonl"))
    ops.append(("replay", ops[-1][1]))
    raw_bytes = {}
    for f, rows in files.items():
        path = os.path.join(out_dir, f)
        with open(path, "w") as fh:
            for r in rows:
                fh.write(feature(r) + "\n")
        raw_bytes[f] = os.path.getsize(path)
    with open(os.path.join(out_dir, "ops.tsv"), "w") as fh:
        fh.writelines(f"{n}\t{f}\n" for n, f in ops)
    exp = expected(ops, files, country)
    exp["raw_bytes"] = sum(raw_bytes[f] for _, f in ops)
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(exp, fh)
    return exp


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
