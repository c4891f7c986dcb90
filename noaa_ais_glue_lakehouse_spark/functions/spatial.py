"""Spatial scalar kernels.

Reference parity (all citations into /root/reference):

- haversine: ``utils/common_functions_curated.py:113-138`` — great-circle km,
  R=6371, computed with Spark column trig. Same formula here.
- spatial grid: ``utils/common_functions_curated.py:62-88`` — floor-quantize
  lat/lon to bucket ids.
- geohash: ``utils/common_functions_curated.py:164-185`` wraps a pure-Python
  base-32 encoder (``:283-317``) in a row-at-a-time ``F.udf`` — the single
  biggest physical-execution defect of the reference (SURVEY §4). Here the
  encoder is a **native column expression**: quantize lat/lon to grid
  ordinates, then read each base-32 character from its two short bit runs
  of those ordinates. Stays inside whole-stage codegen; no Python worker hop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0

_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two points (R=6371).

    Pure column expression — codegen'd, no UDF. Matches the reference
    formula at ``utils/common_functions_curated.py:113-138``.
    """
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    # Clamp the asin argument against FP drift just past 1.0 with
    # when/otherwise, NOT least(): least ignores NULLs, so a NULL input
    # (e.g. lag() on the first point of an entity) would silently become
    # asin(1.0) = a half-circumference 20015 km "jump" instead of NULL.
    root = F.sqrt(a)
    return 2 * EARTH_RADIUS_KM * F.asin(
        F.when(root > 1.0, F.lit(1.0)).otherwise(root)
    )


def grid_cell(coord: Column, precision_deg: float) -> Column:
    """Floor-quantize a coordinate into a grid bucket id (long).

    Reference: ``utils/common_functions_curated.py:62-88``.
    """
    return F.floor(coord / F.lit(precision_deg)).cast("long")


def _chunk_alphabet(n_lon: int) -> str:
    """The 32 base-32 characters of a 5-bit geohash group made of an
    ``n_lon``-bit lon run and a ``5 - n_lon``-bit lat run, indexed by
    ``lon_run * 2**(5 - n_lon) + lat_run``. The axis with 3 bits holds
    group bits 4, 2, 0 and the other bits 3, 1."""
    out = ""
    for pos in range(32):
        lon_run, lat_run = divmod(pos, 1 << (5 - n_lon))
        big, small = (lon_run, lat_run) if n_lon == 3 else (lat_run, lon_run)
        idx = sum(((big >> (2 - i)) & 1) << (4 - 2 * i) for i in range(3))
        idx += sum(((small >> (1 - i)) & 1) << (3 - 2 * i) for i in range(2))
        out += _GEOHASH_B32[idx]
    return out


def geohash_expr(lat: Column, lon: Column, precision: int = 6) -> Column:
    """Base-32 geohash of (lat, lon) as a native column expression.

    Equivalent to the standard bisection encoder the reference wraps in a
    Python UDF (``utils/common_functions_curated.py:283-317``): the lon
    axis gets ceil(precision*5/2) bits (the extra bit on odd lengths, per
    the public spec), lat gets the rest, and quantization
    ``floor((x-min)/range * 2^bits)`` reproduces the bisection bit
    pattern exactly. The interleaved bit stream alternates lon, lat, so
    character k holds a contiguous run of lon bits and one of lat bits
    (3+2 for even k, 2+3 for odd k): each character is read straight
    from those two runs of the quantized ordinates through a 32-entry
    table, with no full interleave. Precisions 1–12 (total bits ≤ 60
    stay inside long).
    """
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in 1..12")
    total = precision * 5
    lon_bits = (total + 1) // 2
    lat_bits = total // 2

    def quantize(x: Column, offset: float, bits: int) -> Column:
        cell = F.floor((x + F.lit(offset)) / F.lit(2 * offset) * F.lit(float(1 << bits)))
        return F.least(cell.cast("long"), F.lit((1 << bits) - 1))

    def run(q: Column, bits: int, before: int, n: int) -> Column:
        # bits [before, before + n) of q, counted from its top bit
        return F.shiftright(q, bits - before - n).bitwiseAND(F.lit((1 << n) - 1))

    lon_q, lat_q = quantize(lon, 180.0, lon_bits), quantize(lat, 90.0, lat_bits)
    chars = []
    for k in range(precision):
        n_lon = 3 - k % 2
        lon_run = run(lon_q, lon_bits, (5 * k + 1) // 2, n_lon)
        lat_run = run(lat_q, lat_bits, 5 * k // 2, 5 - n_lon)
        pos = (lon_run * F.lit(1 << (5 - n_lon)) + lat_run + F.lit(1)).cast("int")
        chars.append(F.lit(_chunk_alphabet(n_lon)).substr(pos, F.lit(1)))
    return F.concat(*chars)


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Z-order (Morton) key of two non-negative integer columns — bit
    interleaving x and y into one long, x taking the even output bits
    (bit 0, 2, …) and y the odd. Writing a table sorted by this key
    clusters rows that are close in BOTH dimensions into the same
    parquet row groups, so min/max column statistics prune scans for 2-D
    predicates (id-range × time-range, lat × lon cells) — the layout
    trick table formats call Z-ORDER, as a plain column expression any
    writer can `sortWithinPartitions` by. ``bits`` per dimension, ≤ 31
    so the interleave stays inside a long. Inputs are masked to
    ``bits`` (callers quantize first, e.g. grid_cell).
    """
    if not 1 <= bits <= 31:
        raise ValueError("morton bits must be in 1..31")
    mask = (1 << bits) - 1
    xm = x.cast("long").bitwiseAND(F.lit(mask))
    ym = y.cast("long").bitwiseAND(F.lit(mask))
    parts = []
    for i in range(bits):
        parts.append(
            F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        parts.append(
            F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


# ---------------------------------------------------------------------------
# Hilbert curve via 2-bit block LUT (see q422)
# ---------------------------------------------------------------------------

#: 2-bit-block Hilbert automaton: (state, x_bits, y_bits) -> (d_digit,
#: next_state). Exactly the 4 orientations of the 2-D Hilbert curve;
#: derived offline from the standard xy2d recurrence (Wikipedia
#: "Hilbert curve", convert (x,y) to d) and pinned by
#: tests/test_hilbert_lut.py, which re-derives it from the recurrence
#: and checks the composed 10-bit index exhaustively.
HILBERT_LUT_2BIT: tuple[tuple[int, int, int, int, int], ...] = (
    (0,0,0,0,0), (0,0,1,3,1), (0,0,2,4,2), (0,0,3,5,0), (0,1,0,1,2), (0,1,1,2,2), (0,1,2,7,3), (0,1,3,6,0),
    (0,2,0,14,3), (0,2,1,13,3), (0,2,2,8,2), (0,2,3,9,0), (0,3,0,15,0), (0,3,1,12,1), (0,3,2,11,3), (0,3,3,10,0),
    (1,0,0,10,1), (1,0,1,11,2), (1,0,2,12,0), (1,0,3,15,1), (1,1,0,9,1), (1,1,1,8,3), (1,1,2,13,2), (1,1,3,14,2),
    (1,2,0,6,1), (1,2,1,7,2), (1,2,2,2,3), (1,2,3,1,3), (1,3,0,5,1), (1,3,1,4,3), (1,3,2,3,0), (1,3,3,0,1),
    (2,0,0,0,2), (2,0,1,1,0), (2,0,2,14,1), (2,0,3,15,2), (2,1,0,3,3), (2,1,1,2,0), (2,1,2,13,1), (2,1,3,12,3),
    (2,2,0,4,0), (2,2,1,7,1), (2,2,2,8,0), (2,2,3,11,1), (2,3,0,5,2), (2,3,1,6,2), (2,3,2,9,2), (2,3,3,10,2),
    (3,0,0,10,3), (3,0,1,9,3), (3,0,2,6,3), (3,0,3,5,3), (3,1,0,11,0), (3,1,1,8,1), (3,1,2,7,0), (3,1,3,4,1),
    (3,2,0,12,2), (3,2,1,13,0), (3,2,2,2,1), (3,2,3,3,2), (3,3,0,15,3), (3,3,1,14,0), (3,3,2,1,1), (3,3,3,0,3),
)


def hilbert_xy2d_py(n: int, x: int, y: int) -> int:
    """Reference Python xy2d recurrence (driver-side; tests + LUT
    derivation only — the engine path is the LUT join in q422)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d
