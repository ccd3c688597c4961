"""Generate the deterministic aux-NYC fixtures under ``tests/fixtures/``.

The reference declares the NYC zones, demographics and
restaurant-inspections sources but ships only data dictionaries and
samples outside any repo (reference ``notes.md:196-207``), so all
three fixtures are synthetic and repo-resident:

- ``nyc_nta_zones.parquet`` — tract polygons as WKB in EPSG:2263
  (NY State Plane, US feet), 36 tracts in each of the five boroughs,
  two tracts per NTA. The shapes are chosen to make point-in-polygon
  non-trivial: L-, U- and star-shaped (concave) tracts, two-part
  MultiPolygons, and square tracts with a HOLE. Each hole holds a
  small island tract and each U's notch a small tract of ANOTHER NTA,
  listed after the tract that surrounds it — a ray caster that ignored
  holes or concavity would tag the inner tract's points with the outer
  tract's NTA.
- ``nyc_econ_by_nta.csv`` — one row per NTA with the columns
  ``aux_econ_by_nta`` reads (``Borough``, ``Pop16plE``, ``LFE``) plus a
  few of the real table's identifiers.
- ``nyc_restaurant_inspections_sample.csv`` — synthetic inspection
  rows; each row's Latitude/Longitude is an interior point of one
  tract above, and its ``NTA`` column records that tract's NTA code.

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

Deterministic: fixed seeds, fixed generation order. Run
``python tools/make_aux_fixtures.py`` from the repo root to rewrite
the three files; the outputs are committed.
"""

from __future__ import annotations

import csv
import math
import os
import random
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nycitibike_data_transform_spark.functions.projection import EPSG_2263, lcc_inverse_np
from nycitibike_data_transform_spark.operators.geo_wkb import parse_wkb_polygons

FIXTURES = os.path.join(REPO, "tests", "fixtures")
ZONES = os.path.join(FIXTURES, "nyc_nta_zones.parquet")
ECON = os.path.join(FIXTURES, "nyc_econ_by_nta.csv")
OUT = os.path.join(FIXTURES, "nyc_restaurant_inspections_sample.csv")

CUISINES = ["American", "Chinese", "Pizza", "Mexican", "Japanese", "Bakery", "Caribbean"]
GRADES = ["A", "A", "A", "B", "B", "C", "P", "Z"]  # A-heavy like the real feed
ACTIONS = [
    "Violations were cited in the following area(s).",
    "No violations were recorded at the time of this inspection.",
]
BORO_CODE = {"1": "Manhattan", "2": "Bronx", "3": "Brooklyn", "4": "Queens", "5": "Staten Island"}

#: (BoroCode, NTA prefix, lower-left corner of the borough's tract grid
#: in EPSG:2263 feet) — disjoint 18,000 × 15,000 ft blocks placed
#: roughly where each borough lies
BOROUGHS = [
    ("1", "MN", 975_000.0, 200_000.0),
    ("2", "BX", 1_005_000.0, 235_000.0),
    ("3", "BK", 975_000.0, 160_000.0),
    ("4", "QN", 1_020_000.0, 185_000.0),
    ("5", "SI", 930_000.0, 130_000.0),
]
TRACTS_PER_BORO = 36
NTAS_PER_BORO = 18
CELL = 2_400.0  # tract cell side, feet
PITCH = 3_000.0  # cell spacing: 600 ft of empty street between cells
GRID_COLS = 6
JITTER = 30.0  # feet; below every gap between two tracts' edges


def _rect(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def cell_shapes(kind: str, rng: random.Random) -> list[list[list[tuple[float, float]]]]:
    """Tract geometries of one grid cell in cell-local feet: a list of
    tracts, each a list of polygons, each a list of rings (ring 0 the
    shell, the rest holes). Surrounding tracts come before the tracts
    they surround."""
    s = CELL
    if kind == "rect":
        return [[[_rect(0.05 * s, 0.05 * s, 0.95 * s, 0.95 * s)]]]
    if kind == "L":
        return [[[[(0, 0), (s, 0), (s, 0.4 * s), (0.4 * s, 0.4 * s), (0.4 * s, s), (0, s)]]]]
    if kind == "U":
        u = [(0, 0), (s, 0), (s, s), (0.65 * s, s), (0.65 * s, 0.3 * s),
             (0.35 * s, 0.3 * s), (0.35 * s, s), (0, s)]
        notch = _rect(0.4 * s, 0.4 * s, 0.6 * s, 0.95 * s)
        return [[[u]], [[notch]]]
    if kind == "donut":
        donut = [_rect(0, 0, s, s), _rect(0.3 * s, 0.3 * s, 0.7 * s, 0.7 * s)]
        island = _rect(0.38 * s, 0.38 * s, 0.62 * s, 0.62 * s)
        return [[donut], [[island]]]
    if kind == "multi":
        return [[[_rect(0, 0, 0.4 * s, s)], [_rect(0.6 * s, 0.2 * s, s, 0.8 * s)]]]
    if kind == "star":
        n = 14
        ring = []
        for k in range(n):
            r = rng.uniform(0.38, 0.48) if k % 2 == 0 else rng.uniform(0.15, 0.25)
            a = 2 * math.pi * k / n
            ring.append((0.5 * s + r * s * math.cos(a), 0.5 * s + r * s * math.sin(a)))
        return [[[ring]]]
    raise ValueError(kind)


#: cell kinds in layout order; U and donut cells hold two tracts each
CELL_CYCLE = ["rect", "L", "U", "donut", "multi", "star"]


def wkb(polys: list[list[np.ndarray]]) -> bytes:
    """Little-endian WKB: a Polygon for one part, else a MultiPolygon.
    Rings are written closed (first vertex repeated)."""

    def polygon(rings):
        out = struct.pack("<BII", 1, 3, len(rings))
        for ring in rings:
            closed = np.vstack([ring, ring[:1]])
            out += struct.pack("<I", len(closed)) + closed.astype("<f8").tobytes()
        return out

    if len(polys) == 1:
        return polygon(polys[0])
    return struct.pack("<BII", 1, 6, len(polys)) + b"".join(polygon(p) for p in polys)


def make_zones() -> list[dict]:
    rng = random.Random(20261017)
    zones = []
    for boro_code, abbr, ox, oy in BOROUGHS:
        tracts: list[list[np.ndarray]] = []
        cell = 0
        while len(tracts) < TRACTS_PER_BORO:
            kind = CELL_CYCLE[cell % len(CELL_CYCLE)]
            cx = ox + (cell % GRID_COLS) * PITCH
            cy = oy + (cell // GRID_COLS) * PITCH
            for tract in cell_shapes(kind, rng)[: TRACTS_PER_BORO - len(tracts)]:
                tracts.append(
                    [
                        [
                            np.array(
                                [
                                    (cx + x + rng.uniform(-JITTER, JITTER),
                                     cy + y + rng.uniform(-JITTER, JITTER))
                                    for x, y in ring
                                ]
                            )
                            for ring in poly
                        ]
                        for poly in tract
                    ]
                )
            cell += 1
        for i, polys in enumerate(tracts):
            # consecutive tracts (a surrounding tract and the one it
            # surrounds) always fall in different NTAs
            n = i % NTAS_PER_BORO
            nta = f"{abbr}{n // 6 + 1:02d}{n % 6 + 1:02d}"
            ct = f"{i + 1:04d}00"
            zones.append(
                {
                    "CTLabel": str(i + 1),
                    "BoroCode": boro_code,
                    "BoroName": BORO_CODE[boro_code],
                    "CT2020": ct,
                    "BoroCT2020": boro_code + ct,
                    "NTAName": f"{BORO_CODE[boro_code]} {nta}",
                    "NTA2020": nta,
                    "geometry": wkb(polys),
                }
            )
    return zones


def write_econ(zones: list[dict]) -> int:
    rng = random.Random(20261018)
    ntas = sorted({(z["NTA2020"], z["NTAName"], z["BoroName"]) for z in zones})
    with open(ECON, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["GeoType", "NTAType", "GeogName", "GeoID", "Borough",
                    "Pop16plE", "LFE", "MdHHIncE"])
        for nta, name, boro in ntas:
            pop = rng.randint(4_000, 60_000)
            w.writerow(["NTA2020", 0, name, nta, boro, pop,
                        int(pop * rng.uniform(0.5, 0.72)), rng.randint(25_000, 180_000)])
    return len(ntas)


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


def write_inspections(zones: list[dict]) -> None:
    rng = random.Random(20260813)
    rows = []
    camis = 41_000_000
    for z in sorted(zones, key=lambda z: (z["NTA2020"], z["BoroCT2020"])):
        nta, boro_code = z["NTA2020"], z["BoroCode"]
        polys = parse_wkb_polygons(z["geometry"])
        shell = polys[0][0]
        y_lo, y_hi = shell[:, 1].min(), shell[:, 1].max()
        y0 = (y_lo + y_hi) / 2.0
        if any(abs(v - y0) < 1e-9 for rings in polys for r in rings for v in r[:, 1]):
            y0 += 1e-3  # dodge an exact-vertex crossing
        lo, hi = max(interior_xs(polys, y0), key=lambda iv: iv[1] - iv[0])
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
                    "BORO": BORO_CODE[boro_code],
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

    cols = list(rows[0].keys())
    with open(OUT, "w") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(",".join(f'"{r[c]}"' if c in ("DBA", "ACTION") else str(r[c]) for c in cols) + "\n")
    print(f"wrote {len(rows)} rows -> {OUT}")


def main() -> None:
    zones = make_zones()
    pq.write_table(pa.Table.from_pylist(zones), ZONES)
    print(f"wrote {len(zones)} tracts -> {ZONES}")
    print(f"wrote {write_econ(zones)} NTAs -> {ECON}")
    write_inspections(zones)


if __name__ == "__main__":
    main()
