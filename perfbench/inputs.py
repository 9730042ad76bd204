"""Seeded input generators for the benchmark workloads.

Every table and archive the engine sees is made here from the run's
seed, so the same seed gives byte-identical inputs. Vocabularies are
fixed (seed 0) and only the draws depend on the run seed: selectivities
and sizes then stay alike across seeds, which keeps run-to-run spread
down, while the literal values, keys and texts differ.

Only numpy, pyarrow and the standard library are used: input
generation is the benchmark's work, not the engine's.
"""

from __future__ import annotations

import csv
import io
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = np.random.default_rng(0)


def _words(n: int, syllables=("ca", "lo", "mi", "ra", "te", "su", "no", "vi",
                              "de", "pa", "ri", "to", "ga", "la", "xe", "bo")):
    out = set()
    while len(out) < n:
        k = int(_VOCAB.integers(2, 5))
        out.add("".join(_VOCAB.choice(syllables, k)))
    return sorted(out)


GENERA = _words(240)
SPECIES = _words(160)
FAMILIES = [w + "aceae" for w in _words(40)]
COUNTRIES = ["united states", "mexico", "brazil", "canada", "peru",
             "colombia", "ecuador", "chile", "argentina", "bolivia",
             "australia", "china", "india", "kenya", "madagascar",
             "south africa", "france", "spain", "germany", "japan"]
STATES = _words(60)
LOCALITY_WORDS = _words(400)
BASIS = ["preservedspecimen", "fossilspecimen", "humanobservation",
         "machineobservation", "livingspecimen"]
INSTITUTIONS = [w.upper()[:4] for w in _words(50)]
FORMATS = ["image/jpeg", "image/png", "audio/mpeg", "video/mp4"]
LICENSES = ["cc0", "cc-by", "cc-by-nc", "cc-by-sa"]
DOC_WORDS = ["spark", "scan", "join", "agg", "sort", "hash", "window",
             "stream", "batch", "merge", "filter", "group", "query", "table",
             "column", "row", "part", "line", "order", "customer", "vector",
             "data", "value", "key", "fast", "slow", "big", "small", "the",
             "a"] + _words(120)


_HEX = np.array(list("0123456789abcdef"))


def _uuids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` random version-4 uuid strings, built without a Python loop."""
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80
    digits = _HEX[np.stack([raw >> 4, raw & 15], axis=-1).reshape(n, 32)]
    cols = np.insert(digits, [8, 12, 16, 20], "-", axis=1)
    return np.ascontiguousarray(cols).view("<U36").ravel()


def _join(*parts) -> np.ndarray:
    """Element-wise space join of equally long string arrays."""
    out = parts[0]
    for p in parts[1:]:
        out = np.char.add(np.char.add(out, " "), p)
    return out


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# --- the indexer's batch job: lineitem, then a text corpus -------------


def lineitem(rng: np.random.Generator, n: int, out_dir: str) -> str:
    """A TPC-H-shaped lineitem table of ``n`` rows, the input schema the
    catalog's ``etl_enrichment_pipeline`` synthesizes its verbatim
    fields from."""
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2500, n).astype("timedelta64[D]")
    t = pa.table({
        "l_orderkey": rng.integers(0, max(n // 4, 1), n, dtype=np.int64),
        "l_partkey": rng.integers(0, 20000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1000, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })
    return _write(t, os.path.join(out_dir, "lineitem.parquet"))


# --- portal_search -----------------------------------------------------


def portal_tables(rng: np.random.Generator, n_records: int,
                  out_dir: str) -> dict:
    """records (the search index) and media (linked by coreid), with a
    nullable geopoint struct and a write-time lowercased fulltext
    column, as the shim compiler expects."""
    rs_ids = _uuids(rng, 40)
    # a few large recordsets and a long tail of small ones
    rs_w = 1.0 / np.arange(1, 41) ** 1.1
    recordset = rng.choice(rs_ids, n_records, p=rs_w / rs_w.sum())
    genus = rng.choice(GENERA, n_records)
    sciname = _join(genus, rng.choice(SPECIES, n_records))
    family = rng.choice(FAMILIES, n_records)
    country = rng.choice(COUNTRIES, n_records)
    state = rng.choice(STATES, n_records)
    loc = _join(*(rng.choice(LOCALITY_WORDS, n_records) for _ in range(3)))
    lat = np.round(rng.uniform(-60.0, 70.0, n_records), 5)
    lon = np.round(rng.uniform(-180.0, 180.0, n_records), 5)
    has_geo = rng.random(n_records) > 0.15
    geopoint = pa.StructArray.from_arrays(
        [pa.array(lat), pa.array(lon)], names=["lat", "lon"],
        mask=pa.array(~has_geo),
    )
    uuids = _uuids(rng, n_records)
    fulltext = _join(sciname, family, country, state, loc)
    records = pa.table({
        "uuid": uuids,
        "recordset": recordset,
        "basisofrecord": rng.choice(BASIS, n_records),
        "scientificname": sciname,
        "genus": genus,
        "family": family,
        "country": country,
        "stateprovince": state,
        "institutioncode": rng.choice(INSTITUTIONS, n_records),
        "catalognumber": np.char.add(
            "c-", rng.integers(0, 10**7, n_records).astype(str)),
        "year": rng.integers(1850, 2025, n_records, dtype=np.int32),
        "hasimage": rng.random(n_records) < 0.4,
        "geopoint": geopoint,
        "fulltext": fulltext,
    })
    n_media = int(n_records * 1.5)
    media = pa.table({
        "uuid": _uuids(rng, n_media),
        "coreid": rng.choice(uuids, n_media),
        "format": rng.choice(FORMATS, n_media, p=[0.55, 0.25, 0.12, 0.08]),
        "license": rng.choice(LICENSES, n_media),
    })
    return {
        "records": _write(records, os.path.join(out_dir, "records.parquet")),
        "media": _write(media, os.path.join(out_dir, "media.parquet")),
        "n_records": n_records,
        "n_media": n_media,
    }


def _zipf_pick(rng: np.random.Generator, seq, a: float = 1.4):
    """Zipf-ranked draw: the head of ``seq`` repeats often, the tail
    rarely, so some requests recur exactly and most do not. The skew
    ``a`` is an assumption, not fitted to portal logs."""
    k = int(rng.zipf(a)) - 1
    return seq[k % len(seq)]


def search_shim(rng: np.random.Generator, template: str) -> dict:
    """One iDigBio Query Format search over ``records``."""
    if template == "term":
        return {"country": _zipf_pick(rng, COUNTRIES), "hasimage": True}
    if template == "terms":
        b = [_zipf_pick(rng, BASIS), _zipf_pick(rng, BASIS[::-1])]
        return {"basisofrecord": b, "family": _zipf_pick(rng, FAMILIES)}
    if template == "range":
        y = 1850 + int(rng.integers(0, 160))
        return {"year": {"type": "range", "gte": y, "lte": y + 5},
                "country": _zipf_pick(rng, COUNTRIES)}
    if template == "prefix":
        g = _zipf_pick(rng, GENERA)
        return {"scientificname": {"type": "prefix", "value": g[:4]}}
    if template == "exists":
        return {"geopoint": {"type": "exists"},
                "genus": _zipf_pick(rng, GENERA)}
    if template == "geo_bounding_box":
        lat = float(np.round(rng.uniform(-50, 55), 1))
        lon = float(np.round(rng.uniform(-170, 150), 1))
        return {"geopoint": {"type": "geo_bounding_box",
                             "top_left": {"lat": lat + 8.0, "lon": lon},
                             "bottom_right": {"lat": lat, "lon": lon + 12.0}}}
    if template == "geo_distance":
        return {"geopoint": {"type": "geo_distance", "distance": "300km",
                             "lat": float(np.round(rng.uniform(-50, 60), 2)),
                             "lon": float(np.round(rng.uniform(-170, 170), 2))}}
    if template == "fulltext":
        words = [_zipf_pick(rng, LOCALITY_WORDS, 1.2), _zipf_pick(rng, COUNTRIES)]
        return {"data": {"type": "fulltext", "value": " ".join(words)}}
    raise ValueError(template)


SEARCH_TEMPLATES = ["term", "terms", "range", "prefix", "exists",
                    "geo_bounding_box", "geo_distance", "fulltext"]


def media_shim(rng: np.random.Generator) -> dict:
    if rng.random() < 0.5:
        return {"format": _zipf_pick(rng, FORMATS)}
    return {"license": [_zipf_pick(rng, LICENSES), LICENSES[0]]}


def request_stream(rng: np.random.Generator, n: int):
    """About 90% searches and 10% downloads. Every ten slots hold the
    same templates in the same order, the second slot a download, so
    every round of ten requests is the same mix whatever the seed; the
    seed draws the literals."""
    out = []
    for i in range(n):
        t = SEARCH_TEMPLATES[i % 10 % len(SEARCH_TEMPLATES)]
        if i % 10 == 1:
            out.append(("download", t, search_shim(rng, t), media_shim(rng)))
        else:
            out.append(("search", t, search_shim(rng, t), None))
    return out


# --- harvest_ingest ----------------------------------------------------

CORE_TERMS = ["dwc:scientificName", "dwc:country", "dwc:basisOfRecord",
              "dwc:catalogNumber", "dwc:recordedBy", "dwc:eventDate"]


@dataclass
class Recordset:
    rs_id: str
    records: dict = field(default_factory=dict)  # uuid -> term values


@dataclass
class Batch:
    rs_id: str
    zip_path: str
    n_records: int
    creates: int
    updates: int
    deletes: int


def _records(rng: np.random.Generator, n: int) -> list[list[str]]:
    """``n`` core rows, values in CORE_TERMS order."""
    cols = [
        _join(rng.choice(GENERA, n), rng.choice(SPECIES, n)),
        rng.choice(COUNTRIES, n),
        rng.choice(BASIS, n),
        np.char.add("c-", rng.integers(0, 10**7, n).astype(str)),
        _join(rng.choice(STATES, n), rng.choice(LOCALITY_WORDS, n)),
        np.char.add(np.char.add("19", rng.integers(10, 99, n).astype(str)),
                    np.char.add("-0", rng.integers(1, 9, n).astype(str))),
    ]
    return [list(r) for r in zip(*(c.tolist() for c in cols))]


class HarvestPlan:
    """Recordsets with their current truth, and the seeded sequence of
    harvests against them.

    Each harvest is a full snapshot of one recordset with a seeded mix
    of updated, deleted and new records. The size class of each batch
    follows a fixed cycle of three, one harvest of each size, so every
    three consecutive harvests are the same mix whatever the seed.

    The sizes, counts, cycle and change rates are assumptions, not
    figures measured on iDigBio's harvests; perfbench/README.md lists
    them under "Unverified assumptions".
    """

    SIZES = {"large": 3000, "medium": 800, "small": 150}
    COUNTS = {"large": 2, "medium": 4, "small": 24}
    CYCLE = ["small", "medium", "large"]

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.by_class: dict[str, list[Recordset]] = {}
        ids = iter(_uuids(rng, sum(self.COUNTS.values())).tolist())
        for cls, count in self.COUNTS.items():
            size = self.SIZES[cls]
            sets = []
            for _ in range(count):
                rs = Recordset(next(ids))
                rs.records = dict(zip(_uuids(rng, size).tolist(),
                                      _records(rng, size)))
                sets.append(rs)
            self.by_class[cls] = sets
        self.turn = {cls: 0 for cls in self.COUNTS}
        self.n_batches = 0

    def recordsets(self) -> list[Recordset]:
        return [rs for sets in self.by_class.values() for rs in sets]

    def next_batch(self, out_dir: str) -> Batch:
        """Mutate the next recordset's truth and write its harvest zip."""
        cls = self.CYCLE[self.n_batches % len(self.CYCLE)]
        sets = self.by_class[cls]
        rs = sets[self.turn[cls] % len(sets)]
        self.turn[cls] += 1
        self.n_batches += 1
        rng = self.rng
        keys = list(rs.records)
        n = len(keys)
        pick = rng.permutation(n)
        n_del = int(n * rng.uniform(0.02, 0.04))
        n_upd = int(n * rng.uniform(0.08, 0.12))
        n_new = int(n * rng.uniform(0.03, 0.06))
        for i in pick[:n_del]:
            del rs.records[keys[i]]
        for i in pick[n_del:n_del + n_upd]:
            rec = rs.records[keys[i]]
            # the batch number keeps every update a real content change
            rec[4] = f"{rng.choice(STATES)} r{self.n_batches}"
        rs.records.update(zip(_uuids(rng, n_new).tolist(),
                              _records(rng, n_new)))
        path = os.path.join(out_dir, f"harvest_{self.n_batches:05d}.zip")
        write_harvest_zip(path, rs.records)
        return Batch(rs.rs_id, path, len(rs.records), n_new, n_upd, n_del)


def write_harvest_zip(path: str, records: dict) -> None:
    """A publisher DwC-A: occurrence.csv core with a header row plus
    meta.xml, written with the standard library only."""
    from idb_backend_spark.export.writers import make_meta_xml

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["id"] + CORE_TERMS)
    for u, rec in records.items():
        w.writerow([u] + rec)
    meta = make_meta_xml([{"filename": "occurrence.csv", "fields": CORE_TERMS,
                           "core": True, "tsv": False, "type": "records"}])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("meta.xml", meta)
        z.writestr("occurrence.csv", buf.getvalue())


def store_rows(plan: HarvestPlan) -> pa.Table:
    """The initial store contents: version 0 of every planned record."""
    from idb_backend_spark.functions.etags import calc_etag

    cols = {c: [] for c in ("uuid", "parent", "etag", "data")}
    for rs in plan.recordsets():
        for u, rec in rs.records.items():
            cols["uuid"].append(u)
            cols["parent"].append(rs.rs_id)
            cols["etag"].append(calc_etag(dict(zip(CORE_TERMS, rec))))
            cols["data"].append("|".join(rec))
    return pa.table(cols)




# --- the batch job's text corpus ----------------------------------------


def corpus(rng: np.random.Generator, n_docs: int, n_vecs: int,
           out_dir: str) -> dict:
    """documents with planted exact copies and near-copies, and 64-d
    embeddings with planted near-duplicate vectors.

    Near-copies swap one word of a long document, which keeps their
    3-shingle Jaccard high enough that 16x4 LSH bands recall them with
    near certainty; exact copies differ only in case and spacing,
    which normalization removes."""
    base_n = int(n_docs * 0.9)
    texts = []
    for _ in range(base_n):
        k = int(rng.integers(40, 90))
        texts.append(" ".join(rng.choice(DOC_WORDS, k)))
    while len(texts) < n_docs:
        src = texts[int(rng.integers(0, base_n))]
        if rng.random() < 0.5:
            texts.append("  " + src.upper())
        else:
            toks = src.split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(DOC_WORDS))
            texts.append(" ".join(toks))
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "de", "es", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    dup = rng.integers(0, n_vecs, n_vecs // 10)
    vecs[: len(dup)] = vecs[dup] + rng.normal(
        scale=0.01, size=(len(dup), 64)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32),
    })
    queries = vecs[rng.integers(0, n_vecs, 16)]
    return {
        "documents": _write(docs, os.path.join(out_dir, "documents.parquet")),
        "embeddings": _write(emb, os.path.join(out_dir, "embeddings.parquet")),
        "queries": queries,
        "vectors": vecs,
        "n_docs": n_docs,
    }
