"""Generate the deterministic restaurant-inspections fixture.

The reference declares the NYC restaurant-inspections source but ships
only its data dictionary (reference
``ref/1_SRC___AUX_NYC_RESTAURANT|dict_nyc_restaurant_inspections.csv``;
``notes.md:196-207``), so the rows here are synthetic — but the
geography is real: each row's Latitude/Longitude is an interior point
of an actual census-tract polygon from the reference's NTA zones
parquet, and the row's ``NTA`` column records that tract's published
NTA code.

Ground truth is BY CONSTRUCTION, independent of the engine's
point-in-polygon implementation: a horizontal scanline through a
polygon crosses its edges at sorted x's; any x strictly between
crossing 2k+1 and 2k+2 is interior by the even-odd rule. Points are
placed inside the widest such interval, then inverse-projected
(EPSG:2263 planar feet → WGS84-style lat/lng) with the closed-form
LCC series. The oracle for ``inspections_by_nta`` aggregates on the
stored ``NTA`` while the Spark side recomputes it geometrically —
forward-project + ray-cast — so a hash match certifies the whole
projection + point-in-polygon chain.

Deterministic: fixed seed, sorted zone order. Run once; output is
committed at ``tests/fixtures/nyc_restaurant_inspections_sample.csv``.
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nycitibike_data_transform_spark.functions.projection import EPSG_2263, lcc_inverse_np
from nycitibike_data_transform_spark.operators.geo_wkb import parse_wkb_polygons

ZONES = "/root/reference/ref/2_DIM___AUX_NYC|nyc_nta_zones.parquet"
OUT = os.path.join(REPO, "tests", "fixtures", "nyc_restaurant_inspections_sample.csv")

CUISINES = ["American", "Chinese", "Pizza", "Mexican", "Japanese", "Bakery", "Caribbean"]
GRADES = ["A", "A", "A", "B", "B", "C", "P", "Z"]  # A-heavy like the real feed
ACTIONS = [
    "Violations were cited in the following area(s).",
    "No violations were recorded at the time of this inspection.",
]
BORO_CODE = {"1": "Manhattan", "2": "Bronx", "3": "Brooklyn", "4": "Queens", "5": "Staten Island"}


def interior_xs(polys: list[list[np.ndarray]], y0: float) -> list[tuple[float, float]]:
    """Sorted (lo, hi) interior intervals of the scanline y=y0 under
    the even-odd rule, across every ring of every sub-polygon."""
    xs: list[float] = []
    for rings in polys:
        for ring in rings:
            vx, vy = ring[:, 0], ring[:, 1]
            j = len(ring) - 1
            for i in range(len(ring)):
                y1, y2 = vy[j], vy[i]
                if (y1 > y0) != (y2 > y0):
                    xs.append(float((vx[j] - vx[i]) * (y0 - vy[i]) / (y1 - y2) + vx[i]))
                j = i
    xs.sort()
    return [(xs[k], xs[k + 1]) for k in range(0, len(xs) - 1, 2)]


def main() -> None:
    con = duckdb.connect()
    zones = con.execute(
        'SELECT "NTA2020", "BoroCode", geometry '
        f"FROM read_parquet('{ZONES}') ORDER BY \"NTA2020\", \"BoroCT2020\""
    ).fetchall()

    rng = random.Random(20260813)
    rows = []
    camis = 41_000_000
    picked_tracts = 0
    seen_nta: dict[str, int] = {}
    for nta, boro_code, wkb in zones:
        if seen_nta.get(nta, 0) >= 2:  # at most 2 tracts per NTA
            continue
        polys = parse_wkb_polygons(bytes(wkb))
        shell = polys[0][0]
        y_lo, y_hi = shell[:, 1].min(), shell[:, 1].max()
        y0 = (y_lo + y_hi) / 2.0
        if any(abs(v - y0) < 1e-9 for rings in polys for r in rings for v in r[:, 1]):
            y0 += 1e-3  # dodge an exact-vertex crossing
        intervals = interior_xs(polys, y0)
        if not intervals:
            continue
        lo, hi = max(intervals, key=lambda iv: iv[1] - iv[0])
        if hi - lo < 50.0:  # feet; skip sliver tracts
            continue
        seen_nta[nta] = seen_nta.get(nta, 0) + 1
        picked_tracts += 1
        n_pts = 3
        for i in range(n_pts):
            # strictly interior: margin 10% of the interval on each end
            frac = 0.1 + 0.8 * (i + rng.random()) / n_pts
            x = lo + frac * (hi - lo)
            lat, lon = lcc_inverse_np(np.array([x]), np.array([y0]), EPSG_2263)
            camis += rng.randint(1, 97)
            month, day = rng.randint(1, 12), rng.randint(1, 28)
            grade = rng.choice(GRADES)
            score = rng.randint(0, 45) + rng.choice([0.0, 0.0, 0.5])
            rows.append(
                {
                    "CAMIS": camis,
                    "DBA": f"{rng.choice(CUISINES).upper()} SPOT #{camis % 1000}",
                    "BORO": BORO_CODE.get(str(boro_code), "Manhattan"),
                    "CUISINE DESCRIPTION": rng.choice(CUISINES),
                    "INSPECTION DATE": f"{month:02d}/{day:02d}/2023",
                    "ACTION": rng.choice(ACTIONS),
                    "SCORE": "" if rng.random() < 0.05 else f"{score:.2f}",
                    "GRADE": grade,
                    "GRADE DATE": f"{month:02d}/{min(day + 1, 28):02d}/2023",
                    "Latitude": f"{lat[0]:.8f}",
                    "Longitude": f"{lon[0]:.8f}",
                    "NTA": nta,
                }
            )
        if picked_tracts >= 180:
            break

    cols = list(rows[0].keys())
    with open(OUT, "w") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(",".join(f'"{r[c]}"' if c in ("DBA", "ACTION") else str(r[c]) for c in cols) + "\n")
    print(f"wrote {len(rows)} rows, {picked_tracts} tracts, {len(seen_nta)} NTAs -> {OUT}")


if __name__ == "__main__":
    main()
