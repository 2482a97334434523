"""Seeded generator of the forage job's inputs.

Writes the three `(lon, lat, d, v)` point-sample parquet sources (ndvi, sm,
preci) and `inputs.json`: the `ForageConfig` fields, the 151 zone WKTs, and
the output the run must produce, computed here rather than by the code under
test.

Points sit at seeded random positions over the full `Grid.Reference` extent
(lon 36..49, lat 0..15), already quantized to 3 decimals the way stage 1
quantizes them. Nothing steers them apart, so several points can share one
raster cell, as in real samples. Every point has one sample per day in each
source; about 2% of precipitation samples are null. Each source is split into
one file per 16 days of samples, as the downloads arrive.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 3 composite periods of daily samples from ANCHOR. POINTS x 3 combined rows
# exceed stage 2's 20k-row calibration cap, so its stride sampling runs.
POINTS, DAYS, ANCHOR = 8000, 48, dt.date(2024, 1, 1)


def zones():
    """151 rectangles tiling the extent: ten latitude bands of 14, one of 11."""
    bands = [14] * 10 + [11]
    h = 15.0 / len(bands)
    out = []
    for b, n in enumerate(bands):
        top, bottom = 15.0 - b * h, 15.0 - (b + 1) * h
        w = 13.0 / n
        for i in range(n):
            l, r = 36.0 + i * w, 36.0 + (i + 1) * w
            out.append(f"POLYGON(({l:.6f} {top:.6f}, {r:.6f} {top:.6f}, {r:.6f} {bottom:.6f}, "
                       f"{l:.6f} {bottom:.6f}, {l:.6f} {top:.6f}))")
    return [(f"Z{i + 1:03d}", w) for i, w in enumerate(out)]


def generate(seed, scale, out_dir, job_dir):
    n = max(8, round(POINTS * scale))
    rng = np.random.Generator(np.random.PCG64(seed))
    # integer thousandths of a degree
    xi = rng.integers(36000, 49000, n)
    yi = rng.integers(1, 15001, n)
    base_ndvi, base_sm = rng.random(n), rng.random(n)
    lon, lat = xi / 1000.0, yi / 1000.0
    values = {
        "ndvi": lambda u: 0.2 + 0.5 * np.tile(base_ndvi, len(u) // n) + 0.1 * u,
        "sm": lambda u: 0.05 + 0.3 * np.tile(base_sm, len(u) // n) + 0.05 * u,
        "preci": lambda u: 20.0 * u,
    }
    paths = {}
    for name, f in values.items():
        d = os.path.join(out_dir, f"src_{name}")
        os.makedirs(d, exist_ok=True)
        for start in range(0, DAYS, 16):
            k = np.arange(start, min(start + 16, DAYS))
            u = rng.random(n * len(k))
            v = f(u)
            mask = (rng.random(len(u)) < 0.02) if name == "preci" else None
            dates = np.array([ANCHOR + dt.timedelta(days=int(i)) for i in k])
            t = pa.table({
                "lon": pa.array(np.tile(lon, len(k))),
                "lat": pa.array(np.tile(lat, len(k))),
                "d": pa.array(np.repeat(dates, n), type=pa.date32()),
                "v": pa.array(v, mask=mask),
            })
            pq.write_table(t, os.path.join(d, f"part-{start // 16:04d}.parquet"))
        paths[name] = d
    last = ANCHOR + dt.timedelta(days=DAYS - 1)
    # the periods stay inside one year, so none is cut at Dec 31
    ends = [ANCHOR + dt.timedelta(days=16 * k + 15) for k in range(DAYS // 16)]
    coords = len(set(zip(xi.tolist(), yi.tolist())))
    spec = {
        "ndvi": paths["ndvi"], "sm": paths["sm"], "preci": paths["preci"],
        "output_dir": job_dir,
        "anchor": ANCHOR.isoformat(),
        "current_date": (last + dt.timedelta(days=2)).isoformat(),
        "latency_days": 2,
        "zones": [[z, w] for z, w in zones()],
        "expected_dates": [e.isoformat() for e in ends],
        "expected_combined_rows": coords * len(ends),
        "facts": {"seed": seed, "points": n, "distinct_coords": coords, "days": DAYS,
                  "periods": len(ends), "zones": 151, "source_rows": 3 * n * DAYS,
                  "anchor": ANCHOR.isoformat()},
    }
    with open(os.path.join(out_dir, "inputs.json"), "w") as fh:
        json.dump(spec, fh)
    return spec
