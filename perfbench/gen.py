"""Seeded inputs for the region workloads.

A block-groups region as an exact shared-border grid at national density:
the continental bbox is shrunk by the area ratio cells / 217k, so the
cells per z10 tile match the real block-groups pyramid (about 217k cells
to 19.4k tiles per decade) and the tile fan, the density budget and the
shared-border simplification see national-scale neighbourhoods at a
fraction of the cells.

Values follow the long CSV the paper's pipeline consumes: every raw-map
metric, 19 years, about 3% empty cells and about 2% missing
parent_location, each (GEOID, year) row drawn from a generator seeded by
a hash of (value seed, GEOID, year).
Snapshot B bumps population in every year of the changed GEOIDs (see
changed_cells).

A generated directory is complete once its marker file exists, so an
interrupted run regenerates it.
"""

import hashlib
import json
import math
import os
import random
import shutil

CONTINENTAL = (-124.0, 25.0, -67.0, 49.0)
NATIONAL_CELLS = 217000
YEARS = [str(y) for y in range(2000, 2019)]
# Raw-map metrics in CSV column order (EtlConfig.columnMapRaw without the
# id, name and parent_location columns).
METRICS = [
    "population", "renter_homes_pct", "median_gross_rent",
    "median_household_income", "median_property_value", "rent_burden",
    "white_pct", "black_pct", "latinx_pct", "aian_pct", "asian_pct",
    "nhpi_pct", "multiple_pct", "other_pct", "poverty_rate", "threatened",
    "threatened_low", "threatened_high", "threatened_rate",
    "threatened_rate_high", "threatened_rate_low", "filings",
    "filings_high", "filings_low", "filing_rate", "filing_rate_low",
    "filing_rate_high", "judgements", "judgement_rate", "low_flag",
]
COUNTS = {"judgements", "filings", "filings_high", "filings_low",
          "threatened", "threatened_low", "threatened_high"}


def h64(*parts):
    d = hashlib.blake2b("|".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(d.digest(), "little")


def grid(cells):
    """(cols, rows, left, bottom, cell width, cell height) of the region's
    grid; cell i sits at column i % cols, row i // cols."""
    shrink = math.sqrt(cells / NATIONAL_CELLS)
    x0, y0, x1, y1 = CONTINENTAL
    w, h = (x1 - x0) * shrink, (y1 - y0) * shrink
    cols = math.ceil(math.sqrt(cells * (w / h)))
    rows = math.ceil(cells / cols)
    return cols, rows, (x0 + x1) / 2 - w / 2, (y0 + y1) / 2 - h / 2, w / cols, h / rows


def tile(lon, lat, z):
    """Web-mercator tile (x, y) of a point at zoom z."""
    n = 2 ** z
    r = math.radians(lat)
    return (math.floor((lon + 180.0) / 360.0 * n),
            math.floor((1 - math.log(math.tan(r) + 1 / math.cos(r)) / math.pi) / 2 * n))


def bubble_kept_below_z8(cell):
    """Whether the bubble layer's base-zoom thinning keeps this GEOID's
    point at z7 (and so maybe coarser): top 60 bits of md5 of the numeric
    GEOID, per million, under the z7 threshold (Tiling.baseZoomKeep with
    base zoom 10 and rate 2.5)."""
    h = int(hashlib.md5(str(cell).encode()).hexdigest()[:15], 16)
    return h % 1000000 < math.floor(1000000 / 2.5 ** 3)


def changed_cells(seed, cells):
    """One GEOID in every other z10 tile of the region (a checkerboard),
    drawn by the seed among the GEOIDs lying wholly inside that tile whose
    bubble point is thinned out below z8. The change is scattered over the
    region and its tile footprint (the z8-z10 tiles over the chosen z10
    tiles) is the same for every seed, so the tiles a delta rewrites
    compare between runs of different seeds."""
    cols, _, left, bottom, cw, ch = grid(cells)
    eps = 1e-6  # off tile edges, whatever the tiler's rounding
    inside = {}
    for cell in range(cells):
        x0, y0 = left + (cell % cols) * cw, bottom + (cell // cols) * ch
        t = tile(x0 - eps, y0 - eps, 10)
        if t == tile(x0 + cw + eps, y0 + ch + eps, 10) and not bubble_kept_below_z8(cell):
            inside.setdefault(t, []).append(cell)
    return sorted(cs[h64("change", seed, *t) % len(cs)]
                  for t, cs in inside.items() if sum(t) % 2 == 0)


def geoid(cell):
    return f"{cell:012d}"


def cell_lines(value_seed, cell, bump):
    """The 19 long CSV lines of one GEOID."""
    gid = geoid(cell)
    p = h64("pl", value_seed, gid) % 50
    pl = "" if p == 0 else f"State {p}"
    lines = []
    for year in YEARS:
        row = [gid, year, f"BG {gid}", pl]
        rng = random.Random(h64(value_seed, gid, year))
        for i, m in enumerate(METRICS):
            h = rng.getrandbits(64)
            if m == "population":
                # always filled, so every bumped GEOID really changes
                row.append(str(h % 4900 + 100 + bump))
            elif h % 33 == i % 33:
                row.append("")
            elif m in COUNTS:
                row.append(str(h % 1000))
            elif m == "low_flag":
                row.append(str(h % 2))
            else:
                row.append(f"{h % 10000 / 100:.2f}")
        lines.append(",".join(row) + "\n")
    return "".join(lines)


def write_long(path, cells_text, value_seed, bumped):
    with open(path, "w") as f:
        f.write(",".join(["id", "year", "name", "parent_location"] + METRICS) + "\n")
        for cell, text in enumerate(cells_text):
            f.write(cell_lines(value_seed, cell, 1) if cell in bumped else text)


def write_geo(path, cells):
    cols, _, left, bottom, cw, ch = grid(cells)
    with open(path, "w") as f:
        for cell in range(cells):
            ax, ay = left + (cell % cols) * cw, bottom + (cell // cols) * ch
            bx, by = ax + cw, ay + ch
            ring = [[ax, ay], [bx, ay], [bx, by], [ax, by], [ax, ay]]
            coords = ",".join(f"[{x:.6f},{y:.6f}]" for x, y in ring)
            f.write('{"type":"Feature","properties":{"GEOID":"%s"},"geometry":'
                    '{"type":"Polygon","coordinates":[[%s]]}}\n' % (geoid(cell), coords))


def inputs(cache, value_seed, cells, change_seed=None):
    """The generated files for (value seed, cells, change seed), generating
    them unless cached (the cache is keyed by this generator's source
    too); snapshot B only with a change seed. Returns a dict of paths and
    facts."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(cache, f"inputs-{version}-v{value_seed}-n{cells}-c{change_seed}")
    marker = os.path.join(d, "_COMPLETE")
    info = {"dir": d, "cells": cells, "long_a": os.path.join(d, "long_a.csv"),
            "long_b": os.path.join(d, "long_b.csv"), "geo": os.path.join(d, "geo.jsonl"),
            "changed": [] if change_seed is None else changed_cells(change_seed, cells)}
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        cells_text = [cell_lines(value_seed, c, 0) for c in range(cells)]
        write_long(info["long_a"], cells_text, value_seed, set())
        if change_seed is not None:
            write_long(info["long_b"], cells_text, value_seed, set(info["changed"]))
        write_geo(info["geo"], cells)
        with open(marker, "w") as f:
            json.dump(info, f)
    return info
