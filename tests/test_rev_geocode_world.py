"""World-map data quality gates for the F7 reverse geocoder.

Three invariants protect the packaged land + EEZ layers:
* a golden city→country table (interior points must resolve on LAND);
* offshore probes (land must miss, the EEZ band must supply the country
  — the reference's land-then-EEZ order, conversions.py:514-519);
* pairwise land-ring disjointness on a dense sample grid (overlapping
  claims would make lookup order-dependent).
"""

from __future__ import annotations

from idb_backend_spark.functions.geo import (
    default_eez_geocoder,
    default_geocoder,
    rev_geocode_py,
)

#: (lon, lat, iso) — interior city points, one to four per country
GOLDEN_CITIES = [
    (-77.0, 38.9, "US"), (-87.6, 41.9, "US"), (-118.2, 34.1, "US"),
    (-95.4, 29.8, "US"), (-82.3, 29.6, "US"), (-122.3, 47.6, "US"),
    (-73.6, 45.5, "CA"), (-79.4, 43.7, "CA"), (-123.1, 49.3, "CA"),
    (-113.5, 53.5, "CA"),
    (-99.1, 19.4, "MX"), (-103.3, 20.7, "MX"),
    (-90.5, 14.6, "GT"), (-82.4, 23.1, "CU"),
    (-46.6, -23.5, "BR"), (-43.2, -22.9, "BR"), (-47.9, -15.8, "BR"),
    (-60.0, -3.1, "BR"),
    (-58.4, -34.6, "AR"), (-64.2, -31.4, "AR"), (-70.7, -33.5, "CL"),
    (-74.1, 4.7, "CO"), (-75.6, 6.2, "CO"),
    (-77.0, -12.0, "PE"), (-71.5, -13.5, "PE"), (-66.9, 10.5, "VE"),
    (-78.5, -0.2, "EC"), (-68.1, -16.5, "BO"), (-63.2, -17.8, "BO"),
    (-57.6, -25.3, "PY"), (-56.2, -34.8, "UY"),
    (-0.1, 51.5, "GB"), (-2.2, 53.5, "GB"), (-3.2, 55.9, "GB"),
    (-6.3, 53.3, "IE"),
    (2.3, 48.9, "FR"), (5.4, 43.3, "FR"),
    (-3.7, 40.4, "ES"), (-5.98, 37.4, "ES"),
    (-9.1, 38.7, "PT"), (-8.6, 41.15, "PT"),
    (13.4, 52.5, "DE"), (11.6, 48.1, "DE"),
    (4.9, 52.4, "NL"), (4.4, 50.8, "BE"),
    (7.4, 46.9, "CH"), (8.5, 47.4, "CH"), (16.4, 48.2, "AT"),
    (21.0, 52.2, "PL"), (19.9, 50.1, "PL"), (14.4, 50.1, "CZ"),
    (12.5, 41.9, "IT"), (9.2, 45.5, "IT"),
    (18.1, 59.3, "SE"), (10.7, 59.9, "NO"), (24.9, 60.2, "FI"),
    (9.0, 56.0, "DK"), (23.7, 38.0, "GR"),
    (32.9, 39.9, "TR"), (28.9, 41.0, "TR"), (30.5, 50.45, "UA"),
    (37.6, 55.8, "RU"), (60.6, 56.8, "RU"),
    (31.2, 30.0, "EG"), (25.5, 25.0, "EG"),
    (28.0, -26.2, "ZA"), (18.5, -33.9, "ZA"),
    (7.5, 9.1, "NG"), (3.4, 6.6, "NG"),
    (36.8, -1.3, "KE"), (39.3, -6.8, "TZ"), (47.5, -18.9, "MG"),
    (77.2, 28.6, "IN"), (72.9, 19.1, "IN"), (88.4, 22.6, "IN"),
    (80.2, 13.1, "IN"),
    (116.4, 39.9, "CN"), (121.5, 31.2, "CN"), (104.1, 30.7, "CN"),
    (114.1, 22.6, "CN"),
    (139.7, 35.7, "JP"), (135.5, 34.7, "JP"),
    (127.0, 37.5, "KR"), (129.1, 35.2, "KR"),
    (100.5, 13.8, "TH"), (98.99, 18.8, "TH"),
    (105.8, 21.0, "VN"), (106.7, 10.8, "VN"),
    (101.7, 3.1, "MY"), (106.8, -6.2, "ID"), (121.0, 14.6, "PH"),
    (151.2, -33.9, "AU"), (144.9, -37.8, "AU"), (115.9, -31.9, "AU"),
    (153.0, -27.5, "AU"),
    (174.8, -36.9, "NZ"), (172.6, -43.5, "NZ"), (147.2, -9.5, "PG"),
    (46.7, 24.7, "SA"), (51.4, 35.7, "IR"),
    (74.3, 31.5, "PK"), (67.0, 24.9, "PK"),
    # Africa + Middle East batch
    (-7.6, 33.6, "MA"), (-6.8, 34.0, "MA"),
    (3.05, 36.75, "DZ"), (-0.6, 35.7, "DZ"),
    (10.18, 36.8, "TN"), (13.2, 32.88, "LY"), (20.07, 32.1, "LY"),
    (32.5, 15.6, "SD"), (38.75, 9.0, "ET"), (45.3, 2.05, "SO"),
    (-0.19, 5.6, "GH"), (-1.6, 6.7, "GH"),
    (-4.0, 5.35, "CI"), (-5.3, 6.8, "CI"), (-17.45, 14.7, "SN"),
    (9.7, 4.05, "CM"), (11.5, 3.85, "CM"),
    (15.3, -4.33, "CD"), (25.2, 0.5, "CD"), (13.23, -8.81, "AO"),
    (17.1, -22.6, "NA"), (25.9, -24.65, "BW"), (28.3, -15.4, "ZM"),
    (31.05, -17.8, "ZW"), (28.6, -20.2, "ZW"),
    (32.58, -25.95, "MZ"), (34.85, -19.85, "MZ"),
    (44.4, 33.3, "IQ"), (43.1, 36.3, "IQ"), (36.3, 33.5, "SY"),
    (35.9, 31.95, "JO"), (34.78, 32.08, "IL"), (58.4, 23.61, "OM"),
    (44.2, 15.35, "YE"), (55.27, 25.2, "AE"), (54.4, 24.45, "AE"),
    # Central/South/Southeast Asia + Americas batch
    (76.9, 43.25, "KZ"), (71.43, 51.17, "KZ"), (106.9, 47.9, "MN"),
    (69.2, 34.5, "AF"), (65.7, 31.6, "AF"),
    (69.24, 41.3, "UZ"), (66.97, 39.65, "UZ"), (58.4, 37.95, "TM"),
    (85.3, 27.7, "NP"), (79.86, 6.93, "LK"), (80.63, 7.3, "LK"),
    (96.15, 16.85, "MM"), (96.1, 21.98, "MM"),
    (104.9, 11.55, "KH"), (103.85, 13.36, "KH"),
    (102.63, 17.96, "LA"), (102.1, 19.88, "LA"),
    (-87.2, 14.1, "HN"), (-86.3, 12.15, "NI"), (-84.1, 9.93, "CR"),
    (-79.5, 8.98, "PA"), (-69.9, 18.48, "DO"), (-72.3, 18.54, "HT"),
    (-76.8, 18.0, "JM"), (-58.16, 6.8, "GY"), (-55.2, 5.85, "SR"),
    # Russian border-fix regression points
    (73.4, 54.99, "RU"), (82.9, 55.0, "RU"), (48.04, 46.35, "RU"),
    (87.6, 43.8, "CN"), (59.6, 36.3, "IR"),
    # Baltics + Eastern Europe batch
    (24.75, 59.44, "EE"), (26.7, 58.38, "EE"), (24.1, 56.95, "LV"),
    (25.28, 54.69, "LT"), (23.9, 54.9, "LT"),
    (27.56, 53.9, "BY"), (30.2, 55.2, "BY"), (28.86, 47.0, "MD"),
    (26.1, 44.43, "RO"), (23.6, 46.77, "RO"), (27.6, 47.16, "RO"),
    (23.32, 42.7, "BG"), (27.46, 42.5, "BG"),
    (20.46, 44.8, "RS"), (19.85, 45.25, "RS"),
    (21.43, 42.0, "MK"), (19.82, 41.33, "AL"),
    (28.3, 57.8, "RU"), (32.05, 54.78, "RU"), (30.3, 59.93, "RU"),
    (24.03, 49.84, "UA"), (22.9, 40.6, "GR"),
    # Pannonia / West Balkans batch
    (17.11, 48.15, "SK"), (21.26, 48.72, "SK"),
    (19.05, 47.5, "HU"), (21.6, 47.53, "HU"), (14.5, 46.05, "SI"),
    (15.98, 45.81, "HR"), (16.45, 43.51, "HR"),
    (18.4, 43.85, "BA"), (17.2, 44.77, "BA"),
    # Sahel + West/Central/East Africa batch (round 5)
    (-8.0, 12.65, "ML"), (-3.0, 16.77, "ML"),       # Bamako, Timbuktu
    (-15.5, 18.1, "MR"), (-10.0, 20.0, "MR"),       # Nouakchott-ish, Sahara
    (2.1, 13.5, "NE"), (8.0, 17.0, "NE"),           # Niamey, Aïr
    (16.0, 12.5, "TD"), (18.0, 15.0, "TD"),         # near N'Djamena, Borkou
    (18.56, 4.4, "CF"), (21.0, 6.0, "CF"),          # Bangui, interior
    (31.6, 4.85, "SS"), (30.0, 7.5, "SS"),          # Juba, interior
    (32.58, 0.32, "UG"), (32.0, 2.5, "UG"),         # Kampala, Gulu-ish
    (30.06, -1.95, "RW"),                           # Kigali
    (29.6, -3.5, "BI"),                             # Gitega-ish interior
    (33.77, -13.98, "MW"), (34.0, -11.5, "MW"),     # Lilongwe, Mzuzu-ish
    (38.94, 15.34, "ER"),                           # Asmara
    (43.2, 11.9, "DJ"),                             # north of Djibouti city
    (-15.6, 11.86, "GW"),                           # Bissau
    (-9.3, 10.4, "GN"), (-12.0, 10.7, "GN"),        # Kankan, Labé-ish
    (-11.74, 7.96, "SL"),                           # Bo
    (-9.47, 7.0, "LR"),                             # Gbarnga
    (1.15, 8.98, "TG"),                             # Sokodé-ish
    (2.2, 9.3, "BJ"),                               # Parakou-ish
    (-1.52, 12.37, "BF"), (-4.3, 11.2, "BF"),       # Ouagadougou, Bobo-ish
    (10.5, 1.6, "GQ"),                              # Rio Muni interior
    (13.58, -1.63, "GA"), (11.6, 0.5, "GA"),        # Franceville, Oyem-ish
    (15.9, -0.5, "CG"), (14.9, -3.0, "CG"),         # Owando, interior
    # Asia / Caucasus / Middle East batch (round 5)
    (125.75, 39.03, "KP"), (127.5, 40.5, "KP"),     # Pyongyang, interior
    (121.56, 25.03, "TW"), (120.65, 24.15, "TW"),   # Taipei, Taichung-ish
    (90.4, 23.7, "BD"), (89.55, 22.8, "BD"),        # Dhaka, Khulna-ish
    (90.5, 27.9, "BT"),                             # central Bhutan
    (44.8, 41.7, "GE"), (42.7, 42.25, "GE"),        # Tbilisi, Kutaisi
    (44.5, 40.18, "AM"),                            # Yerevan
    (49.85, 40.4, "AZ"), (47.5, 41.0, "AZ"),        # Baku, Shirvan
    (75.98, 41.43, "KG"),                           # Naryn
    (68.78, 38.54, "TJ"),                           # Dushanbe
    (35.6, 33.9, "LB"),                             # east of Beirut
    (47.97, 29.37, "KW"),                           # Kuwait City
    (51.2, 25.3, "QA"),                             # Doha-west interior
    (114.7, 4.6, "BN"),                             # Brunei interior
    (125.8, -8.8, "TL"),                            # Timor interior
    # Americas + islands batch (round 5)
    (-88.77, 17.25, "BZ"),                          # Belmopan
    (-89.2, 13.7, "SV"),                            # San Salvador
    (-51.7, 64.17, "GL"), (-40.0, 75.0, "GL"),      # Nuuk, ice sheet
    (-77.35, 25.06, "BS"), (-78.0, 26.4, "BS"),     # Nassau, Freeport-ish
    (-61.5, 10.67, "TT"), (-61.0, 10.3, "TT"),      # Port of Spain, south
    (-21.9, 64.13, "IS"), (-18.1, 65.0, "IS"),      # Reykjavik, interior
    (178.44, -18.14, "FJ"), (177.5, -17.8, "FJ"),   # Suva, Viti Levu
    (179.0, -16.5, "FJ"),                           # Vanua Levu
    (33.36, 35.17, "CY"),                           # Nicosia
    (14.45, 35.89, "MT"),                           # Malta
    (19.26, 42.44, "ME"),                           # Podgorica
    # second interior anchors for the round-5 single-golden countries
    (44.0, 40.7, "AM"), (73.8, 42.0, "KG"), (70.0, 38.8, "TJ"),
    (38.5, 15.5, "ER"), (-11.8, 8.6, "SL"), (1.0, 7.0, "TG"),
    (-88.5, 17.5, "BZ"), (32.9, 34.95, "CY"), (19.2, 42.8, "ME"),
    (91.0, 28.0, "BT"),
    # carve-outs (round 5): states inside a neighbor's old solid ring
    (-15.5, 13.35, "GM"),                           # Gambia river interior
    (28.2, -29.6, "LS"),                            # Lesotho highlands
    (31.9, -26.4, "SZ"),                            # Eswatini interior
    # the carves must not break the host countries next to the notches
    (-15.5, 14.2, "SN"), (-15.0, 12.7, "SN"),       # north + Casamance
    (27.0, -31.5, "ZA"), (30.0, -29.8, "ZA"),       # EC interior, KZN
    # round-5: the NE-110m members previously absent from the layer
    (6.13, 49.61, "LU"), (6.1, 49.8, "LU"),         # Luxembourg City, north
    (21.16, 42.66, "XK"), (20.7, 42.4, "XK"),       # Pristina, Prizren-ish
    (20.9, 42.9, "XK"),                             # Mitrovica-ish
    (-13.0, 27.0, "EH"), (-12.0, 26.0, "EH"),       # Laayoune-ish, interior
    (-14.5, 24.0, "EH"), (-16.3, 21.3, "EH"),       # Río de Oro, south
    (-66.3, 18.2, "PR"), (-66.05, 18.35, "PR"),     # interior, San Juan-ish
    (-59.5, -51.7, "FK"), (-58.5, -51.6, "FK"),     # East/West Falkland
    (165.5, -21.3, "NC"), (166.45, -22.2, "NC"),    # Grande Terre, Nouméa
    (167.0, -15.3, "VU"), (168.35, -17.7, "VU"),    # Santo, Efate
    (159.95, -9.43, "SB"), (161.0, -8.9, "SB"),     # Honiara, Malaita
    (69.3, -49.3, "TF"),                            # Kerguelen
    (0.0, -75.0, "AQ"), (45.0, -80.0, "AQ"),        # Antarctica slabs
    (-60.0, -64.0, "AQ"), (140.0, -70.0, "AQ"),     # peninsula, E Antarctica
    # the Kosovo carve must not break Serbia around it
    (21.9, 42.55, "RS"), (21.5, 43.3, "RS"),        # Vranje, Niš-ish
]

#: (lon, lat, iso) — open-water points: land misses, EEZ resolves
OFFSHORE_PROBES = [
    (-90.0, 28.0, "US"),    # Gulf of Mexico
    (-79.0, 27.5, "US"),    # Atlantic off Florida
    (1.8, 57.0, "GB"),      # North Sea
    (155.0, -20.0, "AU"),   # Coral Sea
    (-37.0, -14.5, "BR"),   # off Bahia
    (134.0, 40.0, "JP"),    # Sea of Japan
    (-10.5, 33.0, "MA"),    # Atlantic off Morocco
    (49.5, 3.0, "SO"),      # Indian Ocean off Somalia
    (81.0, 5.5, "LK"),      # south of Sri Lanka (not India's band)
    (85.0, 12.0, "IN"),     # Bay of Bengal proper
    (30.2, 44.5, "RO"),     # Black Sea off Constanța
    (28.8, 42.9, "BG"),     # Black Sea off Burgas (not Turkey's band)
    (23.0, 59.2, "EE"),     # Gulf of Finland approach
    (-78.5, 18.3, "JM"),    # Caribbean off Jamaica
    (38.0, -18.0, "MZ"),    # Mozambique Channel
    # round-5 bands
    (-17.5, 18.5, "MR"),    # Atlantic off Mauritania
    (-14.5, 9.5, "GN"),     # off Conakry
    (-10.0, 5.0, "LR"),     # off Monrovia
    (1.3, 5.5, "TG"),       # Bight of Benin west
    (8.7, -0.5, "GA"),      # off Libreville
    (10.5, -4.8, "CG"),     # off Pointe-Noire
    (42.0, 14.8, "ER"),     # central Red Sea, south of SA's band
    (20.3, 62.3, "FI"),     # Gulf of Bothnia
    (16.5, 54.9, "PL"),     # south Baltic (no longer SE's)
    (31.9, 44.8, "UA"),     # NW Black Sea east of RO's band
    (2.7, 51.3, "BE"),      # southern North Sea east of GB's band
    (16.8, 43.0, "HR"),     # east Adriatic (no longer IT's)
    (122.5, 24.0, "TW"),    # east of Taiwan (carved out of CN's band)
    (33.5, 34.5, "CY"),     # south of Cyprus (carved out of TR's band)
    (-14.0, 65.5, "IS"),    # east of Iceland
    (176.0, -19.5, "FJ"),   # south of Viti Levu
    (-60.0, 10.2, "TT"),    # Atlantic east of Trinidad
    (-41.0, 61.0, "GL"),    # Irminger Sea SE of Greenland
    # round-5 short-coastline bands (priority-carved out of neighbors)
    (17.6, 42.8, "BA"),     # Neum corridor (carved out of HR's band)
    (-77.9, 23.3, "BS"),    # Great Bahama bank (not CU's band)
    (-87.5, 17.2, "BZ"),    # barrier reef (carved out of HN's band)
    (11.5, -6.0, "CD"),     # Congo mouth (carved out of AO's band)
    (43.5, 11.9, "DJ"),     # Bab-el-Mandeb approach (not SO/YE)
    (-17.2, 13.3, "GM"),    # Gambia river approach
    (34.3, 32.3, "IL"),     # Levantine basin (carved out of EG's band)
    (34.97, 29.4, "JO"),    # Gulf of Aqaba head (not SA's band)
    (129.5, 40.5, "KP"),    # East Sea north of the MDL (not JP's)
    (48.8, 29.2, "KW"),     # NW Persian Gulf (not IR/IQ's bands)
    (35.1, 33.9, "LB"),     # Levantine basin (carved out of TR's band)
    (14.2, 36.1, "MT"),     # Malta channel
    (51.8, 26.2, "QA"),     # peninsula shelf (not SA/AE/IR's bands)
    (37.8, 20.0, "SD"),     # Red Sea west (carved out of SA's band)
    (-89.0, 13.0, "SV"),    # Pacific shelf
    (35.5, 35.3, "SY"),     # Levantine basin north (not TR's band)
    # round-5 NE-110m land additions' marine bands
    (-17.0, 24.5, "EH"),    # Atlantic off Western Sahara
    (-66.5, 18.7, "PR"),    # north of Puerto Rico
    (-60.5, -50.9, "FK"),   # Falklands shelf (carved out of AR's band)
    (165.0, -22.3, "NC"),   # Coral Sea off Grande Terre
    (167.8, -16.5, "VU"),   # between Santo and Efate
    (159.0, -8.5, "SB"),    # New Georgia Sound
    (70.8, -49.0, "TF"),    # east of Kerguelen
    (-150.0, -63.0, "AQ"),  # Southern Ocean catch-all
]


def test_golden_cities_resolve_on_land():
    g = default_geocoder()
    misses = [
        (lon, lat, iso, g.lookup(lon, lat))
        for lon, lat, iso in GOLDEN_CITIES
        if g.lookup(lon, lat) != iso
    ]
    assert not misses, misses


def test_offshore_probes_resolve_via_eez():
    g, ez = default_geocoder(), default_eez_geocoder()
    for lon, lat, iso in OFFSHORE_PROBES:
        assert g.lookup(lon, lat) is None, (lon, lat)
        assert ez.lookup(lon, lat) == iso, (lon, lat, ez.lookup(lon, lat))


def test_land_rings_disjoint_on_sample_grid():
    g = default_geocoder()
    overlaps = []
    for (gx, gy), cands in g.grid.items():
        if len(cands) < 2:
            continue
        for fx in (0.25, 0.75):
            for fy in (0.25, 0.75):
                lon, lat = gx + fx, gy + fy
                hits = {
                    c
                    for c in cands
                    for kind, geom in g.shapes[c]
                    if g._contains(kind, geom, lon, lat)
                }
                if len(hits) > 1:
                    overlaps.append((lon, lat, sorted(hits)))
    assert not overlaps, overlaps[:10]


def test_eez_fallback_and_flip_flags():
    g, ez = default_geocoder(), default_eez_geocoder()
    # offshore + stated country: EEZ supplies it, no failure flag
    lon, lat, country, flags = rev_geocode_py(g, -90.0, 28.0, "US", ez)
    assert country == "US" and flags == ["rev_geocode_eez"]
    # negated longitude offshore: only the EEZ pass of the flip search
    # can correct it (reference conversions.py:548-550 runs land flips
    # first, then EEZ flips)
    lon, lat, country, flags = rev_geocode_py(g, -155.0, -20.0, "AU", ez)
    assert (lon, lat, country) == (155.0, -20.0, "AU")
    assert flags == [
        "rev_geocode_failure", "rev_geocode_mismatch",
        "rev_geocode_lon_sign", "rev_geocode_eez_corrected",
        "rev_geocode_corrected",
    ]
    # mismatch resolved by a land flip: mismatch flag set exactly once
    lon, lat, country, flags = rev_geocode_py(g, -69.2, -44.6, "US", ez)
    assert (lon, lat, country) == (-69.2, 44.6, "US")
    assert flags == [
        "rev_geocode_mismatch", "rev_geocode_lat_sign",
        "rev_geocode_corrected",
    ]
    # without an EEZ layer the offshore point still fails cleanly
    _, _, country, flags = rev_geocode_py(g, -90.0, 28.0, None, None)
    assert country is None and flags == ["rev_geocode_failure"]


# Countries in the land layer with no sea coast — the only ones allowed
# to lack a marine EEZ band.
LANDLOCKED = {
    "AD", "AF", "AM", "AT", "AZ", "BF", "BI", "BO", "BT", "BW", "BY",
    "CF", "CH", "CZ", "ET", "GE", "HU", "KG", "KZ", "LA", "LI", "LS",
    "LU", "MD", "MK", "ML", "MN", "MW", "NE", "NP", "PY", "RS", "RW",
    "SK", "SM", "SS", "SZ", "TD", "TJ", "TM", "UG", "UZ", "XK", "ZM",
    "ZW",
}


def test_every_coastal_country_has_an_eez_band():
    """The marine layer's completeness contract: every coastal country
    in the land layer carries at least one EEZ band (short coastlines
    included — they are priority-carved ahead of wider neighbors)."""
    from idb_backend_spark.data.world_eez import WORLD_EEZ
    from idb_backend_spark.data.world_regions import WORLD_REGIONS

    coastal = set(WORLD_REGIONS) - LANDLOCKED
    missing = sorted(coastal - set(WORLD_EEZ))
    assert not missing, f"coastal countries without an EEZ band: {missing}"


# --- border-adjacent pins (round 6) -----------------------------------
# The packaged rings are hand-simplified NE-110m geometry inset
# ~0.2-0.5 degrees from the true borders (data/world_regions.py:14-19),
# so a city sitting ON a border can resolve three ways today: into the
# inset gap (None), into the neighbor whose ring reaches it (Geneva ->
# FR), or into an adjacent marine EEZ band that overhangs the coastline
# inset (El Paso -> the MX band). The reference resolves all of these on
# land via real shapefiles (idb/helpers/rg.py:53-62). These pins make
# the documented caveat VISIBLE and guard against silent drift; when
# tools/gen_world_geometry.py regenerates real NE geometry, update each
# row to its true country and delete this paragraph.
BORDER_PINS = [
    # (name, lon, lat, expected_land, expected_eez)
    ("Basel",      7.59,  47.56, None, None),
    ("Geneva",     6.14,  46.20, "FR", None),
    ("Detroit",  -83.05,  42.33, None, None),
    ("Windsor",  -83.03,  42.30, None, None),
    ("Copenhagen", 12.57, 55.68, None, "SE"),
    ("El Paso", -106.49,  31.76, None, "MX"),
]


def test_border_adjacent_resolution_is_pinned():
    g, ez = default_geocoder(), default_eez_geocoder()
    got = [
        (name, g.lookup(lon, lat), ez.lookup(lon, lat))
        for name, lon, lat, _, _ in BORDER_PINS
    ]
    want = [(n, land, eez) for n, _, _, land, eez in BORDER_PINS]
    assert got == want, got


def test_border_adjacent_flags_are_pinned():
    """End-to-end F6/F7 outcomes at the pinned cities: the inset gap
    surfaces as an HONEST failure/mismatch flag pair (never a silently
    wrong country on land), matching the reference's flag contract
    (conversions.py:514-550)."""
    g, ez = default_geocoder(), default_eez_geocoder()
    assert rev_geocode_py(g, -83.05, 42.33, "US", ez) == (
        -83.05, 42.33, None,
        ["rev_geocode_failure", "rev_geocode_mismatch"],
    )
    assert rev_geocode_py(g, 6.14, 46.20, "CH", ez) == (
        6.14, 46.20, "FR", ["rev_geocode_mismatch"]
    )
    assert rev_geocode_py(g, -106.49, 31.76, "US", ez) == (
        -106.49, 31.76, "MX",
        ["rev_geocode_eez", "rev_geocode_mismatch"],
    )


def test_udf_ships_geocoders_by_broadcast(spark):
    """The pandas UDF's pickled command carries a broadcast handle, not
    the ~1 MB of packaged land and EEZ layers, so a reverse-geocode
    stage's task binary stays small; its lookups equal the scalar
    kernel's on land, offshore, flipped and unplaced points."""
    from pyspark.serializers import CloudPickleSerializer
    from pyspark.sql import functions as F

    from idb_backend_spark.functions.geo import rev_geocode_udf

    land, eez = default_geocoder(), default_eez_geocoder()
    udf = rev_geocode_udf(land, eez)
    command = CloudPickleSerializer().dumps((udf.func, udf.returnType))
    assert len(command) < 64 * 1024, len(command)

    points = list(GOLDEN_CITIES[:12])
    points += [(lat, lon, iso) for lon, lat, iso in GOLDEN_CITIES[12:20]]
    points += [(-lon, lat, iso) for lon, lat, iso in GOLDEN_CITIES[20:28]]
    points += [(-30.0, 0.0, None), (-30.0, 0.0, "BR"), (0.0, 0.0, "US")]
    points += OFFSHORE_PROBES
    df = spark.createDataFrame(
        [(i, *p) for i, p in enumerate(points)],
        "i int, lon double, lat double, iso string",
    )
    got = [
        tuple(r)[1:]
        for r in df.select("i", udf("lon", "lat", "iso").alias("r"))
        .select("i", "r.lon", "r.lat", "r.country", "r.flags")
        .orderBy("i")
        .collect()
    ]
    want = []
    for lon, lat, iso in points:
        lo, la, country, flags = rev_geocode_py(land, lon, lat, iso, eez)
        want.append((lo, la, country, ",".join(flags) if flags else None))
    assert got == want


def test_plan_builds_share_one_layers_broadcast(spark, sf_dir, monkeypatch):
    """Three reverse-geocode plan builds in one session bind the packaged
    layers' one broadcast: at most one pickle file joins the driver's
    temp dir (the first build of the session writes it), not three. The
    lookups equal those of a plan whose layers are built and broadcast
    afresh."""
    import os

    from idb_backend_spark.data.world_eez import WORLD_EEZ
    from idb_backend_spark.data.world_regions import WORLD_REGIONS
    from idb_backend_spark.functions import geo
    from idb_backend_spark.plans.catalog import Q

    temp_dir = spark.sparkContext._temp_dir
    before = set(os.listdir(temp_dir))
    plans = [
        Q[name](spark, sf_dir)
        for name in ("rev_geocode", "rev_geocode_offshore", "rev_geocode")
    ]
    assert len(set(os.listdir(temp_dir)) - before) <= 1
    got = [p.collect() for p in plans]
    assert got[0] == got[2]

    monkeypatch.setattr(geo, "default_geocoder", lambda: geo.GridGeocoder(WORLD_REGIONS))
    monkeypatch.setattr(geo, "default_eez_geocoder", lambda: geo.GridGeocoder(WORLD_EEZ))
    before = set(os.listdir(temp_dir))
    fresh = [Q[name](spark, sf_dir).collect() for name in ("rev_geocode", "rev_geocode_offshore")]
    assert len(set(os.listdir(temp_dir)) - before) == 2
    assert fresh == got[:2]
