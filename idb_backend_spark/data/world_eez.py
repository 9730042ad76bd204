"""Coarse EEZ / territorial-waters bands for the reverse geocoder (F7
marine layer) — the role the EEZ_land shapefile plays for the reference
(rg.py:60-62; consulted when the land layer misses,
conversions.py:514-519, and as the second pass of the flip search,
conversions.py:548-550).

Shapes are generous offshore boxes (x1, y1, x2, y2 = lon/lat bounds)
hugging each country's coast out to roughly the 200-nm EEZ scale. The
land layer is ALWAYS probed first, so a marine box overlapping a foreign
coastline is harmless — the box only answers where no land ring
contains the point. Between adjacent countries' waters the first match
in insertion order wins (deterministic); boxes are drawn to keep such
overlaps small.

Like the EEZ_land source, a country's band may also cover its own land —
redundant but harmless under land-first lookup order.

Every coastal country in the land layer has a band: countries whose
waters sit inside a neighbor's generous box (BA, BS, BZ, CD, DJ, FK,
GM, IL, JO, KP, KW, LB, MT, QA, SD, SV, SY) are listed FIRST so their
tight bands take insertion-order priority.
"""

from __future__ import annotations

WORLD_EEZ: dict[str, list[tuple[float, float, float, float]]] = {
    # --- short-coastline countries, listed FIRST: their tight near-coast
    # bands must win over the wider neighbors' boxes below (first match
    # in insertion order) — the same priority carve as TW/CY/GM on land
    "BA": [(17.45, 42.70, 17.75, 42.95)],   # Neum corridor (Adriatic)
    "BS": [
        (-79.0, 22.8, -72.6, 24.0),         # Great/Little Bahama banks
        (-74.8, 20.9, -72.6, 22.8),         # SE chain down to Inagua
    ],
    "BZ": [(-88.1, 16.0, -87.0, 18.4)],     # barrier reef shelf
    "CD": [(11.0, -6.15, 12.15, -5.85)],    # Congo mouth corridor
    "DJ": [(42.8, 11.5, 43.7, 12.55)],      # Gulf of Tadjoura / strait
    "GM": [(-17.8, 13.1, -16.8, 13.6)],     # Gambia river approach
    "IL": [(33.8, 31.35, 35.05, 33.05)],    # Levantine basin south
    "JO": [(34.93, 29.25, 35.05, 29.50)],   # Gulf of Aqaba head (east)
    "KP": [
        (127.7, 38.65, 131.0, 42.2),        # East Sea, north of the MDL
        (123.9, 38.05, 125.3, 39.7),        # West Sea, north of the NLL
                                            # (floor clears the ROK-held
                                            # Northwest Islands at ~37.97)
    ],
    "KW": [(47.6, 28.6, 49.3, 29.95)],      # Kuwait Bay / NW gulf
    "LB": [(34.8, 33.1, 35.7, 34.65)],      # Levantine basin middle
    "MT": [(13.8, 35.5, 14.9, 36.25)],      # Malta channel
    "QA": [(50.75, 24.6, 52.6, 26.7)],      # peninsula shelf
    "SD": [(36.8, 18.05, 38.8, 21.9)],      # Red Sea west, EG..ER gap
    "SV": [(-90.3, 12.4, -87.6, 13.25)],    # Pacific shelf
    "SY": [(35.3, 34.65, 35.95, 35.95)],    # Levantine basin north
    "FK": [(-62.0, -53.0, -57.0, -50.7)],   # Falklands shelf (inside
                                            # AR's wider box — wins here)
    "US": [
        (-130.0, 31.0, -123.5, 49.0),   # Pacific
        (-97.8, 25.0, -81.0, 30.5),     # Gulf of Mexico
        (-81.5, 24.0, -74.0, 36.0),     # Florida Straits + SE Atlantic
        (-76.0, 35.0, -65.5, 45.0),     # mid/NE Atlantic
    ],
    "CA": [
        (-135.0, 48.5, -125.0, 55.0),   # BC coast (north of US band)
        (-66.0, 42.5, -48.0, 62.0),     # Atlantic / Labrador
        (-141.0, 68.5, -120.0, 75.0),   # Beaufort
    ],
    "MX": [
        (-118.0, 14.0, -92.0, 32.0),    # Pacific
        (-97.5, 18.5, -94.0, 25.5),     # Bay of Campeche
        (-92.0, 18.5, -86.0, 24.0),     # Yucatán shelf
    ],
    "BR": [
        (-52.0, -35.0, -38.0, -24.0),   # south Atlantic shelf
        (-41.0, -24.0, -31.0, -2.0),    # east / northeast shelf
        (-51.0, -2.0, -42.0, 6.0),      # equatorial margin
    ],
    "AR": [(-68.5, -55.5, -52.0, -35.5)],
    "CL": [(-80.0, -56.0, -69.0, -18.0)],
    "PE": [(-86.0, -18.5, -70.5, -3.0)],
    "EC": [(-84.0, -3.5, -80.0, 1.5)],
    "CO": [(-79.5, 1.5, -76.5, 7.5), (-78.0, 8.0, -71.0, 13.5)],
    "VE": [(-71.5, 10.5, -59.5, 15.5)],
    "UY": [(-57.5, -37.5, -50.0, -33.0)],
    "GB": [
        (-11.0, 48.5, 2.5, 61.5),       # shelf around Great Britain
    ],
    "IE": [(-16.0, 49.0, -5.5, 56.5)],
    "FR": [
        (-6.5, 43.2, 0.0, 49.0),        # Biscay
        (2.8, 41.2, 8.5, 43.6),         # Gulf of Lion / Ligurian
    ],
    "ES": [(-11.5, 35.5, -1.0, 44.5), (-1.0, 37.5, 2.5, 40.5)],
    "PT": [(-13.0, 36.0, -8.7, 42.0)],
    "NO": [(2.0, 56.5, 12.0, 71.5), (12.0, 68.0, 31.0, 74.0)],
    # south Baltic below 55.2 is PL's band (SE no longer claims
    # the Polish shelf)
    "SE": [(10.5, 55.2, 19.5, 61.0)],
    "DK": [(4.0, 53.5, 8.2, 57.8)],
    "DE": [(6.0, 53.5, 9.0, 55.5)],
    "NL": [(2.5, 51.5, 7.0, 55.5)],
    # Tyrrhenian/Ionian + the WEST half of the Adriatic only — the east
    # Adriatic belongs to HR/SI/ME/AL's bands (split; the old
    # single box shadowed the whole east shore)
    "IT": [
        (8.0, 36.5, 19.0, 40.3),
        (11.8, 40.3, 15.0, 44.6),
        (11.8, 44.6, 13.55, 45.8),
    ],
    "GR": [(19.5, 33.5, 28.5, 41.0)],
    # carved around Cyprus' band (the old single box shadowed it)
    "TR": [
        (25.0, 33.5, 31.8, 42.3),
        (31.8, 35.85, 36.5, 42.3),
        (31.8, 33.5, 36.5, 34.2),
    ],
    "RU": [(135.0, 42.0, 165.0, 60.0), (28.5, 59.5, 32.0, 61.0)],
    "EG": [(24.5, 31.0, 34.5, 33.5), (33.0, 22.0, 39.0, 28.5)],
    "ZA": [(14.0, -38.0, 33.0, -27.5)],
    "NG": [(2.5, 2.0, 9.0, 6.5)],
    "KE": [(39.5, -5.0, 45.0, -1.5)],
    "TZ": [(38.5, -11.0, 44.0, -4.5)],
    "MG": [(42.0, -27.0, 52.0, -11.5)],
    "IN": [
        (66.0, 6.0, 74.0, 24.0),        # Arabian Sea
        (74.0, 6.0, 79.3, 8.6),         # Cape Comorin / Mannar side
        (79.5, 8.0, 90.0, 21.5),        # Bay of Bengal (LK waters below)
    ],
    "SA": [(33.8, 16.0, 40.5, 29.5), (48.5, 24.0, 52.5, 28.5)],
    "IR": [(48.0, 23.5, 62.0, 30.5)],
    "PK": [(60.5, 22.0, 68.5, 25.5)],
    "TH": [(98.5, 5.5, 102.5, 13.5), (97.0, 6.0, 99.0, 13.0)],
    "VN": [(102.5, 5.5, 112.5, 21.5)],
    "MY": [(98.5, 1.0, 105.5, 7.5)],
    "ID": [(93.0, -12.0, 120.0, 6.5)],
    "PH": [(116.5, 4.5, 127.5, 21.0)],
    # carved around Taiwan's band (the old single box shadowed it)
    "CN": [(105.5, 15.0, 119.8, 41.0), (119.8, 26.0, 126.0, 41.0)],
    "KR": [(123.5, 32.0, 132.0, 39.0)],
    "JP": [(128.0, 24.0, 148.0, 46.0)],
    "AU": [
        (105.0, -40.0, 129.0, -10.0),   # west / northwest
        (129.0, -45.0, 160.0, -9.8),    # east / Coral + Tasman (PG waters
                                        # north of -9.8 belong to PG below)
    ],
    "NZ": [(160.0, -52.0, 180.0, -32.0)],
    "PG": [(140.5, -12.0, 156.0, 0.0)],
    "CU": [(-86.0, 19.0, -73.5, 24.0)],
    "MA": [(-14.0, 27.8, -9.5, 36.0)],
    "DZ": [(-2.5, 35.2, 8.6, 38.5)],
    "TN": [(8.6, 33.0, 12.5, 38.2)],
    "LY": [(10.5, 32.3, 25.0, 34.5)],
    "SN": [(-20.0, 12.2, -17.3, 16.2)],
    "GH": [(-3.2, 2.5, 1.2, 4.9)],
    "CI": [(-8.0, 2.8, -3.3, 4.9)],
    "CM": [(8.0, 2.5, 9.6, 4.5)],
    "AO": [(8.5, -17.3, 12.0, -5.8)],
    "NA": [(8.0, -30.0, 14.0, -17.5)],
    "MZ": [(33.0, -27.0, 42.0, -10.5)],
    "SO": [(42.5, -2.0, 55.0, 12.5)],
    "YE": [(43.5, 11.0, 56.0, 15.5)],
    "OM": [(56.5, 16.5, 62.0, 25.5)],
    "AE": [(51.5, 24.5, 56.5, 26.5)],
    "IQ": [(47.8, 29.2, 49.2, 30.2)],
    "LK": [(78.5, 4.5, 83.5, 10.5)],
    "MM": [(91.0, 9.5, 98.0, 19.5)],
    "KH": [(101.5, 8.5, 104.5, 10.8)],
    "RO": [(28.8, 43.8, 31.5, 45.5)],
    "BG": [(27.8, 42.0, 29.5, 43.7)],
    "EE": [(21.5, 57.7, 26.0, 59.9)],
    "LV": [(19.5, 56.3, 23.5, 57.9)],
    "LT": [(19.0, 55.0, 21.1, 56.3)],
    "AL": [(18.2, 39.8, 19.4, 42.0)],
    "HN": [(-88.0, 15.9, -82.5, 17.5)],
    "NI": [(-84.0, 10.8, -79.5, 15.0)],
    "CR": [(-87.5, 7.5, -84.5, 10.5)],
    "PA": [(-81.5, 6.5, -77.8, 8.0)],
    "DO": [(-70.5, 17.0, -67.5, 20.2)],
    "HT": [(-75.0, 17.5, -72.0, 20.5)],
    "JM": [(-79.5, 16.8, -75.8, 18.9)],
    "GY": [(-59.5, 7.0, -56.8, 9.5)],
    "SR": [(-56.8, 6.0, -53.8, 8.5)],
    "GT": [(-93.0, 13.0, -90.5, 14.3)],
    # ---- new coastal countries + Baltic/Black/Adriatic
    # gaps. (DJ was band-less in the first pass; it now has a tight
    # strait band in the priority-first block at the top of the dict.)
    "MR": [(-19.5, 16.3, -16.5, 21.2)],
    "GW": [(-18.0, 10.6, -16.3, 12.1)],
    "GN": [(-16.5, 8.8, -13.6, 10.4)],
    "SL": [(-14.8, 6.6, -13.2, 8.6)],
    "LR": [(-12.5, 3.6, -8.6, 6.3)],
    "TG": [(0.8, 5.0, 1.75, 6.05)],
    "BJ": [(1.75, 5.0, 2.5, 6.25)],
    "GQ": [(8.2, 0.9, 9.5, 2.0)],
    "GA": [(7.8, -4.4, 9.4, 0.7)],
    "CG": [(9.5, -5.7, 11.3, -3.9)],
    "ER": [(39.5, 12.9, 43.2, 15.9)],
    "FI": [(19.6, 59.9, 26.0, 65.7)],
    "PL": [(14.4, 54.3, 19.0, 55.15)],
    "UA": [(31.5, 44.2, 37.8, 46.8)],
    "BE": [(2.2, 51.05, 3.25, 51.5)],
    "HR": [(15.2, 42.6, 18.1, 44.6), (13.9, 44.6, 15.6, 45.3)],
    "SI": [(13.55, 45.43, 13.85, 45.62)],
    # island/coast bands. KP and BS, band-less in the first
    # pass, now carry tight bands in the priority-first block at the
    # top; CY's band is the carve-out from TR's box above.
    "TW": [(119.8, 21.5, 123.5, 25.9)],
    "CY": [(31.8, 34.2, 35.2, 35.85)],
    "IS": [(-28.0, 62.5, -11.5, 67.5)],
    "FJ": [(175.0, -20.5, 180.0, -14.5)],
    "TT": [(-61.9, 9.7, -59.6, 10.45)],
    "ME": [(18.3, 42.0, 18.9, 42.45)],
    "TL": [(124.5, -10.3, 127.6, -8.1)],
    "BN": [(113.8, 3.8, 115.5, 5.1)],
    "BD": [(90.0, 20.6, 92.3, 21.8)],
    "GL": [(-48.0, 59.5, -35.0, 65.0), (-75.0, 66.0, -55.0, 78.0)],
    # --- NE-110m land additions' marine bands ---
    "EH": [(-17.6, 20.8, -15.5, 27.6)],
    "PR": [(-67.6, 17.4, -65.2, 18.8)],
    "NC": [(163.0, -23.2, 167.5, -19.6)],
    "VU": [(166.0, -18.2, 169.5, -14.5)],
    "SB": [(158.5, -11.0, 162.5, -7.8)],
    "TF": [(67.5, -50.5, 71.5, -48.0)],
    # Southern Ocean catch-all — LAST on purpose: it must never shadow
    # another band (nothing else claims waters south of -60)
    "AQ": [(-180.0, -90.0, 180.0, -60.0)],
}
