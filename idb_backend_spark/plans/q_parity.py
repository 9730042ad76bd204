"""Round-4 parity entries: schema-driven typed projection, sketch
verification, streaming execution, and audio derivatives.

These close the carried §2 partials: F2 (schema-table-driven verbatim
projection), the simhash exact-verification sibling, a driver-executed
streaming rollup, and the F25 audio derivative path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from idb_backend_spark.plans import synth
from idb_backend_spark.plans.registry import _t, query


# --------------------------------------------------------------------------
# F2 — schema-table-driven verbatim projection + table-driven dqs
# --------------------------------------------------------------------------

#: synthesized raw-record fields keyed by the schema table's rawfield —
#: shared SQL expressions over `customer` evaluated identically by Spark
#: (F.expr) and DuckDB (oracle), so the §1.4 table itself is the only
#: other input to either side. Mixed case / padding exercise the F1
#: lower+trim fold; NULL branches exercise scoring of absent fields.
_RAW_SYNTH: dict[str, str] = {
    "idigbio:uuid": "'urn:uuid:' || c_custkey",
    "idigbio:etag": "'ETAG-' || (c_custkey * 7919 % 104729)",
    "idigbio:recordIds": (
        "'[\"CAT-' || c_custkey || '\",\"urn:x:' || (c_custkey % 100) || '\"]'"
    ),
    "dwc:kingdom": "'Plantae'",
    "dwc:genus": (
        "CASE c_custkey % 3 WHEN 0 THEN 'Acer' WHEN 1 THEN 'QUERCUS' "
        "ELSE 'Pinus  ' END"
    ),
    "dwc:country": "'  United States'",
    "dwc:stateProvince": (
        "CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE 'Florida' END"
    ),
    "dwc:catalogNumber": "'CAT-' || c_custkey",
    "dwc:institutionCode": (
        "CASE WHEN c_custkey % 5 = 0 THEN NULL "
        "ELSE 'INST-' || (c_custkey % 5) END"
    ),
    "dwc:scientificName": (
        "CASE c_custkey % 3 WHEN 0 THEN 'Acer rubrum' "
        "WHEN 1 THEN 'Quercus alba' ELSE 'Pinus taeda' END"
    ),
    "dwc:basisOfRecord": "'PreservedSpecimen'",
    "dwc:recordedBy": "c_name",
    "dwc:typeStatus": "CASE WHEN c_custkey % 7 = 0 THEN 'Holotype' ELSE NULL END",
    # F15 seed: commonname (raw-backed, folded) and the derived
    # commonnames assembly both read this; the padding exercises the
    # fold-vs-raw split (commonname lower/trims, commonnames must NOT)
    "dwc:vernacularName": (
        "CASE c_custkey % 3 WHEN 0 THEN ' Eastern  Bluebird ' "
        "WHEN 1 THEN NULL ELSE 'Red Fox' END"
    ),
    # r9 — raw-data flag keys (grabAll's third flag source,
    # conversions.py:960-962): presence of a flag_* KEY in the harvested
    # data appends its suffix to the flags array; the value is never
    # consulted. Planted on overlapping moduli so some rows carry both
    # (fold order = map insertion order, matching the reference's dict
    # iteration). NULL value -> map_filter drops the key -> no flag.
    "flag_rev_geocode_corrected": (
        "CASE WHEN c_custkey % 6 = 0 THEN 'true' ELSE NULL END"
    ),
    "flag_taxon_match_failed": (
        "CASE WHEN c_custkey % 9 = 0 THEN '1' ELSE NULL END"
    ),
}

#: the recordids JSON list above, as the expected post-projection joined
#: string (from_json -> element-wise lower/trim -> array_join '|')
_RECORDIDS_JOINED_SQL = "lower('CAT-' || c_custkey || '|urn:x:' || (c_custkey % 100))"


def _typed_projection_oracle() -> str:
    """Generate the DuckDB oracle FROM THE SAME §1.4 table — one output
    column per raw-backed schema row, plus the table-driven dqs."""
    from idb_backend_spark.data.typed_schema import (
        maxscore,
        raw_fields,
        scored_weights,
    )

    weights = scored_weights("records")
    cols = ["c_custkey"]
    score_terms = []
    # the planted raw flag_ keys: (stripped name, presence predicate) in
    # map insertion order — drives BOTH the flags column and the dqs
    # subtraction below
    raw_flags = [
        ("rev_geocode_corrected", "c_custkey % 6 = 0"),
        ("taxon_match_failed", "c_custkey % 9 = 0"),
    ]
    for name, rawfield, reftype in raw_fields("records"):
        synth = _RAW_SYNTH.get(rawfield)
        if synth is None:
            cols.append(f'CAST(NULL AS VARCHAR) AS "{name}"')
            continue
        if reftype == "list":
            cols.append(f'{_RECORDIDS_JOINED_SQL} AS "{name}"')
        else:
            cols.append(f'lower(trim({synth})) AS "{name}"')
        if name in weights:
            score_terms.append(f"CAST(({synth}) IS NOT NULL AS INT)")
    # F15 derived commonnames (conversions.py:818-835): the RAW verbatim
    # seed, unfolded — no lower/trim (the raw map here has no gbif keys,
    # so the gbif loop contributes nothing; the loop half is graded by
    # etl_enrichment_pipeline as well). coalesce: the
    # engine's empty assembly is [] -> '' after the boundary join.
    vern = _RAW_SYNTH["dwc:vernacularName"]
    cols.append(f"coalesce({vern}, '') AS commonnames")
    # the reference's collect_common_names ALWAYS sets commonnames (an
    # empty list is not None), so its weight scores unconditionally —
    # score(t, r) checks `is not None`, conversions.py:264-271
    score_terms.append("1")
    # r9 — the raw-data flag fold (conversions.py:960-962): the flags
    # column carries the stripped flag_* suffixes in map order, and
    # score(t, r) subtracts len(flags) (conversions.py:269-270)
    flag_parts = " || ".join(
        f"(CASE WHEN {pred} THEN ['{nm}'] ELSE [] END)"
        for nm, pred in raw_flags
    )
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — the no-flag rows must agree on ''
    cols.append(f"coalesce(array_to_string({flag_parts}, '|'), '') AS flags")
    nflags = " + ".join(
        f"(CASE WHEN {pred} THEN 1 ELSE 0 END)" for _, pred in raw_flags
    )
    cols.append(
        f"round(({' + '.join(score_terms)} - ({nflags}))"
        f" / {maxscore('records')}, 6) AS dqs"
    )
    return (
        "SELECT " + ", ".join(cols) + " FROM customer ORDER BY c_custkey"
    )


@query("records_typed_projection", _typed_projection_oracle())
def records_typed_projection(spark, sf_dir):
    """F2 + A8 schema-driven — the §1.4 typed-column table
    (data.typed_schema, mirroring conversions.py:35-188) drives BOTH the
    verbatim projection out of the raw `data` map (verbatimGrabber,
    conversions.py:290-294, incl. F1 lower/trim fold and list parsing)
    and the dqs weights/maxscore (conversions.py:218-224, :264-271).
    The oracle SQL is generated from the same table — a change to the
    table changes both sides in lockstep.

    r9 adds grabAll's RAW-DATA flag fold (conversions.py:960-962,
    previously unimplemented): flag_*-prefixed KEYS of the raw map
    append their stripped suffix to the flags array, and the dqs
    subtraction sees them (score(t, r) counts len(flags)) — graded via
    planted flag_ keys on overlapping moduli.

    Plan shape: map construction + per-column map lookups + lower/trim —
    one codegen stage over the scan, no shuffle, no Python.
    """
    from idb_backend_spark.data.typed_schema import verbatim_projection
    from idb_backend_spark.functions import grabbers
    from idb_backend_spark.functions.flags import dqs_score_for

    cust = _t(spark, sf_dir, "customer")
    entries = []
    for k, expr in _RAW_SYNTH.items():
        entries += [F.lit(k), F.expr(expr).cast("string")]
    raw = cust.withColumn(
        "data",
        F.map_filter(F.create_map(*entries), lambda k, v: v.isNotNull()),
    )
    proj = verbatim_projection(raw, "records", keep=["c_custkey", "data"])
    # F15 — the derived commonnames assembly runs alongside the verbatim
    # projection exactly where the reference's grabAll composes it
    # (conversions.py:944): the seed reads the raw map value DIRECTLY
    # (no lower/trim fold — contrast the folded `commonname` column from
    # the same raw field). Never NULL: an absent vernacularName yields
    # [], which still scores — the reference's presence-check quirk.
    proj = proj.withColumn(
        "commonnames",
        grabbers.collect_common_names(F.col("data")["dwc:vernacularName"]),
    )
    # r9 — grabAll's raw-data flag fold (conversions.py:960-962): flag_*
    # KEYS of the raw map append their suffix to the flags array (key
    # presence is the trigger; values never consulted); score(t, r)
    # then subtracts len(flags) through the same dqs kernel
    from idb_backend_spark.functions.flags import raw_data_flags

    proj = proj.withColumn("flags", raw_data_flags(F.col("data"))).drop(
        "data"
    )
    proj = proj.withColumn(
        "dqs",
        F.round(
            dqs_score_for("records", F.col("flags"), columns=proj.columns), 6
        ),
    )
    # boundary shaping for the driver hasher: stringify the one list-typed
    # projected column and the flags array
    return proj.withColumns(
        {
            "recordids": F.array_join("recordids", "|"),
            "commonnames": F.array_join("commonnames", "|"),
            "flags": F.array_join("flags", "|"),
        }
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# SimHash exact-verified — the last sketch tier becomes oracle-checkable
# --------------------------------------------------------------------------

#: exact word-3-gram Jaccard pair oracle (the same true pair set that
#: grades ngram_jaccard_pairs / minhash_exact_verified in q_textsim —
#: ONE builder in synth.py, not a per-module copy)
_EXACT_JACCARD_ORACLE = synth.EXACT_JACCARD_SQL


# --------------------------------------------------------------------------
# F7 — reverse geocode with the marine EEZ fallback layer
# --------------------------------------------------------------------------

_RGO_LON = (
    "CASE c_custkey % 4 WHEN 0 THEN -90.0 WHEN 1 THEN -155.0 "
    "WHEN 2 THEN -69.2 ELSE 13.0 END"
)
_RGO_LAT = (
    "CASE c_custkey % 4 WHEN 0 THEN 28.0 WHEN 1 THEN -20.0 "
    "WHEN 2 THEN -44.6 ELSE 40.0 END"
)
_RGO_ISO = (
    "CASE c_custkey % 4 WHEN 0 THEN 'US' WHEN 1 THEN 'AU' "
    "WHEN 2 THEN 'US' ELSE NULL END"
)


@query(
    "rev_geocode_offshore",
    # golden per-class expectations for the land-then-EEZ lookup order
    # (conversions.py:514-519) and the EEZ pass of the flip search
    # (conversions.py:548-550):
    #  %4=0  Gulf of Mexico point, stated US: land misses, EEZ supplies
    #        the country (flag rev_geocode_eez, no failure, no nulling)
    #  %4=1  south-Pacific point with negated longitude, stated AU: land
    #        and EEZ miss, land flips miss, the EEZ flip pass corrects
    #  %4=2  Patagonia point with negated latitude, stated US: the finer
    #        land layer now RESOLVES it (AR) -> mismatch -> land flip
    #        corrects to Maine (the old coarse map nulled this point)
    #  else  Tyrrhenian Sea, no stated country: EEZ hit, no flip search
    "SELECT c_custkey, "
    "CAST(CASE c_custkey % 4 WHEN 0 THEN -90.0 WHEN 1 THEN 155.0 "
    " WHEN 2 THEN -69.2 ELSE 13.0 END AS DOUBLE) AS lon, "
    "CAST(CASE c_custkey % 4 WHEN 0 THEN 28.0 WHEN 1 THEN -20.0 "
    " WHEN 2 THEN 44.6 ELSE 40.0 END AS DOUBLE) AS lat, "
    "CASE c_custkey % 4 WHEN 0 THEN 'US' WHEN 1 THEN 'AU' "
    " WHEN 2 THEN 'US' ELSE 'IT' END AS country, "
    "CASE c_custkey % 4 WHEN 0 THEN 'rev_geocode_eez' "
    " WHEN 1 THEN 'rev_geocode_failure,rev_geocode_mismatch,"
    "rev_geocode_lon_sign,rev_geocode_eez_corrected,rev_geocode_corrected' "
    " WHEN 2 THEN 'rev_geocode_mismatch,rev_geocode_lat_sign,"
    "rev_geocode_corrected' "
    " ELSE 'rev_geocode_eez' END AS flags "
    "FROM customer ORDER BY c_custkey",
)
def rev_geocode_offshore(spark, sf_dir):
    """F7 with the EEZ layer — offshore specimens resolve via the marine
    bands instead of nulling out, and the flip search runs its second
    (EEZ) pass when the land pass misses, matching the reference's
    land-then-EEZ lookup and correction order (rg.py:60-79,
    conversions.py:513-563)."""
    from idb_backend_spark.functions.geo import (
        default_eez_geocoder,
        default_geocoder,
        rev_geocode_udf,
    )

    cust = _t(spark, sf_dir, "customer")
    inp = cust.select(
        "c_custkey",
        F.expr(f"CAST(({_RGO_LON}) AS DOUBLE)").alias("in_lon"),
        F.expr(f"CAST(({_RGO_LAT}) AS DOUBLE)").alias("in_lat"),
        F.expr(_RGO_ISO).alias("iso"),
    )
    out = inp.withColumn(
        "rg",
        rev_geocode_udf(default_geocoder(), default_eez_geocoder())(
            "in_lon", "in_lat", "iso"
        ),
    )
    return out.select(
        "c_custkey",
        F.col("rg.lon").alias("lon"),
        F.col("rg.lat").alias("lat"),
        F.col("rg.country").alias("country"),
        F.col("rg.flags").alias("flags"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# F25 (audio) — wave→waveform derivative with an analytic oracle
# --------------------------------------------------------------------------


@query(
    "audio_waveform_peaks",
    # Each doc gets a synthesized PCM WAV: 107 chunks of 10 samples at
    # 1000 Hz (duration exactly 1070 ms), chunk i a ±A_i square wave with
    # A_i = (1 + (doc_id + 13·i) % 8)·500 — so chunk RMS is exactly A_i,
    # the max amplitude is always 4000 (13 mod 8 = 5 is coprime with 8 ⇒
    # every residue occurs), and the reference's peak formula
    # int(rms·60/max) reduces to floor((1 + (doc_id+13i) % 8)·7.5):
    # closed-form, exact in both engines.
    "SELECT doc_id, 1070 AS duration_ms, "
    "array_to_string([CAST(floor((1 + (doc_id + 13*i) % 8) * 7.5) AS INT) "
    "FOR i IN range(0, 107)], ',') AS peaks_csv "
    "FROM documents ORDER BY doc_id",
)
def audio_waveform_peaks(spark, sf_dir):
    """F25 (audio) — the wave→waveform-peaks derivative executed through
    the REAL decode kernel (stdlib wave + numpy RMS — no codec deps), not
    the fake path: synthesized PCM WAV blobs whose per-chunk RMS is known
    in closed form, graded against the exact analytic oracle. Mirrors
    reference wave_to_img (derivatives.py:338-341) + Waveform peaks
    (waveform.py:28-42)."""
    import io as _io
    import wave as _wave
    from collections.abc import Iterator as _Iterator

    import numpy as _np
    import pandas as _pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from idb_backend_spark.functions.multimodal import (
        AUDIO_BAR_COUNT,
        audio_waveform,
    )

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id"))

    blob_schema = StructType(
        [StructField("id", LongType()), StructField("content", BinaryType())]
    )

    def synth(it: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        # WAV synthesis is test-harness input generation (the corpus
        # would already hold real blobs); the operator under test is
        # audio_waveform below.
        base = _np.tile([1.0, -1.0], 5)  # one 10-sample square chunk
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = _np.arange(AUDIO_BAR_COUNT)
                amps = (1 + (int(doc_id) + 13 * i) % 8) * 500
                samples = (base[None, :] * amps[:, None]).ravel()
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(1000)
                    w.writeframes(
                        samples.astype("<i2").tobytes()
                    )
                rows.append((int(doc_id), buf.getvalue()))
            yield _pd.DataFrame(rows, columns=["id", "content"])

    blobs = docs.mapInPandas(synth, blob_schema)
    wf = audio_waveform(blobs, "content", "id")
    return wf.select(
        F.col("id").alias("doc_id"),
        "duration_ms",
        F.array_join(F.transform("peaks", lambda p: p.cast("string")), ",")
        .alias("peaks_csv"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# §2.10 — a streaming query EXECUTED under the driver's oracle gate
# --------------------------------------------------------------------------


@query(
    "streaming_windowed_rollup",
    "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type, "
    "count(*) AS n_events, round(sum(value), 2) AS total "
    "FROM events GROUP BY 1, 2 ORDER BY 1, 2",
)
def streaming_windowed_rollup(spark, sf_dir):
    """§2.10 executed — the watermarked tumbling-window rollup runs as an
    actual Structured Streaming query (file source over the events table,
    ``Trigger.AvailableNow``, memory sink) and its final result is graded
    against the batch-SQL oracle. Complete output mode makes the stream's
    end-state deterministic regardless of micro-batch boundaries: every
    window emits its final aggregate, late-data semantics inside the run
    are governed by the declared watermark.

    This is the same A7 rollup shape the batch entries grade
    (stats_daily_rollup) — here the assertion is that the STREAMING
    execution path (watermark bookkeeping, state store, incremental
    aggregation) converges to the batch answer.
    """
    import uuid as _uuid

    from pyspark.sql.types import LongType

    from idb_backend_spark.streaming.incremental import windowed_rollup

    import os
    import shutil
    import tempfile

    path = f"{sf_dir}/events.parquet"
    # _t's conf side-effects are REQUIRED here, not optional: it maps the
    # nanosecond parquet timestamps to long (the raw read below throws
    # 'Illegal Parquet type' without it on a driver-owned session) and
    # pins the session timezone to UTC (F.window buckets UTC instants —
    # in any other zone near-midnight events rebucket away from the
    # oracle's naive date_trunc calendar)
    _t(spark, sf_dir, "events")
    raw_schema = spark.read.parquet(path).schema
    # the file source streams a DIRECTORY (its listing is the change
    # feed); the test table is a single file, so stage it as a one-file
    # landing directory — at real scale the landing dir is the natural
    # layout and this copy disappears
    landing = tempfile.mkdtemp(prefix="stream_rollup_")
    if os.path.isdir(path):
        for f_name in os.listdir(path):
            if f_name.endswith(".parquet"):
                shutil.copy(os.path.join(path, f_name), landing)
    else:
        shutil.copy(path, landing)
    stream = spark.readStream.schema(raw_schema).parquet(landing)
    # plain TIMESTAMP (not NTZ): watermarks only accept TIMESTAMP, and
    # anchoring at the session-TZ epoch literal keeps the WALL CLOCK equal
    # to the naive value for any session timezone (so date_trunc/window
    # and the collected datetimes match DuckDB's naive timestamps)
    if isinstance(raw_schema["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP '1970-01-01 00:00:00')"
            ),
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    rolled = windowed_rollup(
        stream, "ts", ["event_type"], window="1 day", watermark="1 hour",
        value_col="value",
    )
    qname = "stream_rollup_" + _uuid.uuid4().hex[:8]
    sq = (
        rolled.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    # the memory sink has materialized the final result; the staged
    # landing directory is dead weight from here — reclaim it now
    shutil.rmtree(landing, ignore_errors=True)
    out = (
        spark.table(qname)
        .select(
            "window_start",
            "event_type",
            F.col("count").cast("bigint").alias("n_events"),
            "total",
        )
        .orderBy("window_start", "event_type")
    )
    # detach the (small) result from the memory sink and DROP the sink:
    # each run registers a uniquely-named in-memory table holding the
    # full rollup, and a timing loop re-running the entry would
    # accumulate one per invocation on the driver
    rows = out.collect()
    result = spark.createDataFrame(rows, out.schema)
    spark.catalog.dropTempView(qname)
    return result


@query("simhash_exact_verified", _EXACT_JACCARD_ORACLE)
def simhash_exact_verified(spark, sf_dir):
    """Near-dup — SimHash pigeonhole candidates verified by EXACT shingle
    Jaccard (mirror of minhash_exact_verified). The sketch only prunes;
    the oracle computes the true Jaccard-0.8 pair set, so a hash mismatch
    is a genuine simhash radius/recall loss. Radius 10 (11 chunks) holds
    every true pair at the graded scale (observed max Hamming 8 at
    sf0.01). The Jaccard->Hamming mapping is inherently probabilistic: at
    sf0.1 one of 256 true pairs lands at Hamming 13 (99.6% recall), and
    covering it would need 4-bit chunks — useless buckets at any scale —
    so the radius is an honest graded-scale guarantee, not a universal
    one (minhash_exact_verified is the tier whose recall holds with
    overwhelming probability at every scale; this entry documents
    simhash's sharper recall/cost cliff). `simhash_pairs` stays the
    rows-only radius-3 flavor."""
    from idb_backend_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_exact_verified_pairs(
        docs, "text", "doc_id", max_hamming=10, shingle_k=3, threshold=0.8
    ).orderBy("id_a", "id_b")
