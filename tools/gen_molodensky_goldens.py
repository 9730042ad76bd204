"""Generate literal golden rows for the 34-datum Molodensky table.

Independence from the engine under test:
* the datum constants below are re-typed directly from the published DMA
  TR 8350.2 local mean shifts / ellipsoid tables (and the proj registry
  for GGRS87) — NOT imported from idb_backend_spark.functions.geo;
* the expected WGS84 coordinates are computed by a DIFFERENT algorithm
  than the engine's abridged Molodensky: the full geocentric 3-parameter
  (Helmert) transformation — geodetic → ECEF on the source ellipsoid
  (h=0), shift, ECEF → geodetic on WGS84 (Bowring + iteration). WGS72
  additionally applies its published Z-rotation (0.554″) and scale
  (+0.219 ppm).

Abridged Molodensky agrees with the geocentric path to a few meters, so
the test tolerance (3e-5 deg ≈ 3.3 m) cleanly separates formula noise
from any transcription error in a shift constant (which moves results by
tens to hundreds of meters).

Usage: python tools/gen_molodensky_goldens.py  (prints the literal table)
"""

from __future__ import annotations

import math

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563

# datum -> (a, 1/f, dx, dy, dz) — independently re-typed from DMA TR
# 8350.2 (mean shifts) and the proj datum registry (GGRS87); WGS72 from
# the official DMA WGS72→WGS84 transformation.
DATUMS = {
    "NAD27": (6378206.4, 294.9786982, -8.0, 160.0, 176.0),
    "WGS72": (6378135.0, 298.26, 0.0, 0.0, 4.5),
    "ED50": (6378388.0, 297.0, -87.0, -98.0, -121.0),
    "TOKYO": (6377397.155, 299.1528128, -148.0, 507.0, 685.0),
    "AGD66": (6378160.0, 298.25, -133.0, -48.0, 148.0),
    "AGD84": (6378160.0, 298.25, -134.0, -48.0, 149.0),
    "SAD69": (6378160.0, 298.25, -57.0, 1.0, -41.0),
    "OSGB36": (6377563.396, 299.3249646, 375.0, -111.0, 431.0),
    "IRE65": (6377340.189, 299.3249646, 506.0, -122.0, 611.0),
    "NZGD49": (6378388.0, 297.0, 84.0, -22.0, 209.0),
    "PULKOVO42": (6378245.0, 298.3, 28.0, -130.0, -95.0),
    "CAPE": (6378249.145, 293.465, -136.0, -108.0, -292.0),
    "ARC1950": (6378249.145, 293.465, -143.0, -90.0, -294.0),
    "CARTHAGE": (6378249.2, 293.466021, -263.0, 6.0, 431.0),
    "POTSDAM": (6377397.155, 299.1528128, 606.0, 23.0, 413.0),
    "HERMANNSKOGEL": (6377397.155, 299.1528128, 653.0, -212.0, 449.0),
    "GGRS87": (6378137.0, 298.257222101, -199.87, 74.79, 246.62),
    # extension — NIMA/DMA TR 8350.2 local mean shifts (NTF from the
    # IGN mean, also in the proj registry), re-typed from the published
    # tables like the rows above.
    "ADINDAN": (6378249.145, 293.465, -166.0, -15.0, 204.0),
    "PSAD56": (6378388.0, 297.0, -288.0, 175.0, -376.0),
    "CORREGOALEGRE": (6378388.0, 297.0, -206.0, 172.0, -6.0),
    "CAMPOINCHAUSPE": (6378388.0, 297.0, -148.0, 136.0, 90.0),
    "BOGOTA": (6378388.0, 297.0, 307.0, 304.0, -318.0),
    "LUZON": (6378206.4, 294.9786982, -133.0, -77.0, -51.0),
    "OLDHAWAIIAN": (6378206.4, 294.9786982, 61.0, -285.0, -181.0),
    "PUERTORICO": (6378206.4, 294.9786982, 11.0, 72.0, -101.0),
    "HUTZUSHAN": (6378388.0, 297.0, -637.0, -549.0, -203.0),
    "INDIAN1954": (6377276.345, 300.8017, 217.0, 823.0, 299.0),
    "KERTAU": (6377304.063, 300.8017, -11.0, 851.0, 5.0),
    "TIMBALAI": (6377298.556, 300.8017, -679.0, 669.0, -48.0),
    "QORNOQ": (6378388.0, 297.0, 164.0, 138.0, -189.0),
    "MINNA": (6378249.145, 293.465, -92.0, -93.0, 122.0),
    "SCHWARZECK": (6377483.865, 299.1528128, 616.0, 97.0, -251.0),
    "EGYPT1907": (6378200.0, 298.3, -130.0, 110.0, -13.0),
    "NTF": (6378249.2, 293.466021, -168.0, -60.0, 320.0),
}

# WGS72→WGS84 also rotates (Rz = 0.554 arcsec) and scales (+0.219 ppm)
WGS72_RZ_RAD = math.radians(0.554 / 3600.0)
WGS72_DS = 0.219e-6

# representative in-region points per datum (lat, lon)
POINTS = {
    "NAD27": [(38.0, -97.0), (45.5, -122.5), (29.6, -82.3)],
    "WGS72": [(38.0, -97.0), (-33.9, 151.2), (51.5, -0.1)],
    "ED50": [(48.8, 2.3), (52.5, 13.4), (40.4, -3.7)],
    "TOKYO": [(35.7, 139.7), (34.7, 135.5), (43.1, 141.3)],
    "AGD66": [(-33.9, 151.2), (-37.8, 145.0), (-12.5, 130.8)],
    "AGD84": [(-31.9, 115.9), (-34.9, 138.6), (-23.7, 133.9)],
    "SAD69": [(-23.5, -46.6), (-34.6, -58.4), (-12.0, -77.0)],
    "OSGB36": [(51.5, -0.1), (55.9, -3.2), (53.5, -2.2)],
    "IRE65": [(53.3, -6.3), (51.9, -8.5), (54.6, -5.9)],
    "NZGD49": [(-36.8, 174.8), (-41.3, 174.8), (-45.9, 170.5)],
    "PULKOVO42": [(55.8, 37.6), (59.9, 30.3), (56.8, 60.6)],
    "CAPE": [(-33.9, 18.4), (-26.2, 28.0), (-29.9, 31.0)],
    "ARC1950": [(-17.8, 31.1), (-15.4, 28.3), (-20.2, 28.6)],
    "CARTHAGE": [(36.8, 10.2), (34.7, 10.8), (33.9, 8.1)],
    "POTSDAM": [(52.5, 13.4), (48.1, 11.6), (50.9, 6.9)],
    "HERMANNSKOGEL": [(48.2, 16.4), (47.1, 15.4), (46.0, 14.5)],
    "GGRS87": [(37.98, 23.73), (40.6, 22.9), (35.3, 25.1)],
    "ADINDAN": [(9.03, 38.74), (15.5, 32.56), (13.5, 39.5)],
    "PSAD56": [(-12.05, -77.05), (-0.2, -78.5), (-16.5, -68.1)],
    "CORREGOALEGRE": [(-19.9, -43.9), (-22.9, -43.2), (-15.8, -47.9)],
    "CAMPOINCHAUSPE": [(-34.6, -58.4), (-31.4, -64.2), (-38.0, -57.5)],
    "BOGOTA": [(4.6, -74.1), (6.2, -75.6), (10.4, -75.5)],
    "LUZON": [(14.6, 121.0), (16.4, 120.6), (10.3, 123.9)],
    "OLDHAWAIIAN": [(21.3, -157.9), (19.7, -155.1), (20.9, -156.5)],
    "PUERTORICO": [(18.5, -66.1), (18.2, -67.1), (18.3, -64.9)],
    "HUTZUSHAN": [(25.0, 121.5), (22.6, 120.3), (24.1, 120.7)],
    "INDIAN1954": [(13.8, 100.5), (18.8, 99.0), (7.9, 98.4)],
    "KERTAU": [(3.1, 101.7), (1.35, 103.8), (5.4, 100.3)],
    "TIMBALAI": [(4.9, 114.9), (1.55, 110.3), (5.98, 116.1)],
    "QORNOQ": [(64.2, -51.7), (61.0, -45.4), (66.9, -53.7)],
    "MINNA": [(9.1, 7.2), (6.5, 3.4), (11.9, 8.5)],
    "SCHWARZECK": [(-22.6, 17.1), (-26.6, 18.1), (-19.6, 16.9)],
    "EGYPT1907": [(30.0, 31.2), (31.2, 29.9), (25.7, 32.6)],
    "NTF": [(48.85, 2.35), (45.76, 4.84), (43.3, 5.4)],
}


def geodetic_to_ecef(lat, lon, a, f):
    e2 = 2 * f - f * f
    phi, lam = math.radians(lat), math.radians(lon)
    n = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
    x = n * math.cos(phi) * math.cos(lam)
    y = n * math.cos(phi) * math.sin(lam)
    z = n * (1 - e2) * math.sin(phi)
    return x, y, z


def ecef_to_geodetic(x, y, z, a, f):
    e2 = 2 * f - f * f
    lam = math.atan2(y, x)
    p = math.hypot(x, y)
    phi = math.atan2(z, p * (1 - e2))  # initial
    for _ in range(10):
        n = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        h = p / math.cos(phi) - n
        phi = math.atan2(z, p * (1 - e2 * n / (n + h)))
    return math.degrees(phi), math.degrees(lam)


def expected_wgs84(datum, lat, lon):
    a, inv_f, dx, dy, dz = DATUMS[datum]
    f = 1.0 / inv_f
    x, y, z = geodetic_to_ecef(lat, lon, a, f)
    if datum == "WGS72":
        # scale + Z-rotation of the official transformation. The +0.554″
        # rotation adds to longitude (λ' = λ + θ), i.e. x' = x - θ·y,
        # y' = y + θ·x for the small angle θ.
        s = 1.0 + WGS72_DS
        x, y, z = (
            s * (x - WGS72_RZ_RAD * y),
            s * (y + WGS72_RZ_RAD * x),
            s * z,
        )
    x, y, z = x + dx, y + dy, z + dz
    return ecef_to_geodetic(x, y, z, WGS84_A, WGS84_F)


def main():
    print("GOLDENS = [")
    for datum, pts in POINTS.items():
        for lat, lon in pts:
            elat, elon = expected_wgs84(datum, lat, lon)
            print(
                f'    ("{datum}", {lat}, {lon}, '
                f"{elat:.9f}, {elon:.9f}),"
            )
    print("]")


if __name__ == "__main__":
    main()
