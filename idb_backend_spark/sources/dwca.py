"""S1 — Darwin Core Archive (DwC-A) source
(reference idigbio_ingestion/lib/dwca.py:32-254).

A DwC-A is a zip of delimited files + ``meta.xml`` describing the core
file and its extensions (row type, delimiters, encoding, header lines,
column-index → term-URI map, default values). The reference XSD-validates
meta.xml over the network and falls back to unvalidated parse; this
engine parses unvalidated (no network dependency) with the same tolerant
attribute defaults.

Spark shape: meta.xml is driver-side metadata (bytes, not data); each
member file is read by the positional read core the delimited source
uses (sources/delimited.py ``read_positional``, as the reference's
``DwcaRecordFile`` subclasses ``DelimitedFile``), fed the member's
declared dialect and column-index → CURIE map. On top of it the member
reader adds only what DwC-A has: the id/coreid binding, declared
defaults, extra header lines, and the NUL strip. Extraction is one
driver-side unzip — at scale archives land pre-extracted on object
storage and ``read_member`` takes the file path directly.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
import zipfile
from dataclasses import dataclass, field
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idb_backend_spark.sources.delimited import (
    Dialect,
    normalize_delimiter,
    read_positional,
    sniff_header,
)
from idb_backend_spark.sources.fieldnames import (
    ROWTYPE_TO_TYPE,
    uri_to_curie,
)

_DWC_TEXT_NS = "http://rs.tdwg.org/dwc/text/"


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


@dataclass
class DwcaFileDescriptor:
    """One core/extension member (DwcaRecordFile fields, dwca.py:137-200)."""

    location: str
    row_type: str
    fields_terminated_by: str = ","
    lines_terminated_by: str = "\n"
    fields_enclosed_by: str = '"'
    encoding: str = "utf-8"
    ignore_header_lines: int = 0
    id_index: int | None = None
    id_is_coreid: bool = False
    #: column index -> CURIE term
    term_by_index: dict[int, str] = field(default_factory=dict)
    #: CURIE term -> default literal (``<field term= default=>`` w/o index)
    defaults: dict[str, str] = field(default_factory=dict)

    @property
    def record_type(self) -> str:
        return ROWTYPE_TO_TYPE.get(self.row_type, "records")


def _xml2d_field_order(el) -> list:
    """The reference reads ``<field>`` elements through xmlDictTools.
    xml2d (xmlDictTools.py:24-46), which materializes same-tag siblings
    via itertools.groupby over CONSECUTIVE runs and merges runs with a
    rule that SCRAMBLES one case: when the collected value is still a
    single element (first run had length 1) and a later run holds two
    or more, the earlier element is APPENDED AFTER the later run
    (``g.append(kids[real_k])``, :37-39). So a meta.xml shaped
    ``<field A/><id/><field B/><field C/>`` yields field order B, C, A
    — and the duplicate-index FIRST-wins rule binds to THAT order, not
    document order. Consecutive fields (every IPT export) are
    unaffected."""
    import itertools as _it

    out: list | None = None
    single = False
    for is_field, run in _it.groupby(
        el, key=lambda e: _local(e.tag) == "field"
    ):
        if not is_field:
            continue
        g = list(run)
        if out is None:
            out, single = g, len(g) == 1
        elif not single:
            out.extend(g)
        elif len(g) > 1:
            g.append(out[0])
            out, single = g, False
        else:
            out, single = [out[0], g[0]], False
    return out or []


def _parse_file_block(el) -> DwcaFileDescriptor:
    loc = ""
    for files_el in el:
        if _local(files_el.tag) == "files":
            for loc_el in files_el:
                if _local(loc_el.tag) == "location" and loc_el.text:
                    loc = loc_el.text.strip()
    d = DwcaFileDescriptor(
        location=loc,
        row_type=el.get("rowType", "http://rs.tdwg.org/dwc/terms/Occurrence"),
        fields_terminated_by=normalize_delimiter(el.get("fieldsTerminatedBy"), ","),
        lines_terminated_by=el.get("linesTerminatedBy", "\n"),
        # absent attribute -> standard double quote; EXPLICIT "" means
        # "no quoting" (the IPT TSV declaration) and must stay empty
        fields_enclosed_by=el.get("fieldsEnclosedBy", '"'),
        encoding=el.get("encoding", "utf-8"),
        ignore_header_lines=int(el.get("ignoreHeaderLines", "0") or 0),
    )
    for child in el:
        tag = _local(child.tag)
        if tag in ("id", "coreid"):
            idx = child.get("index")
            d.id_index = int(idx) if idx is not None else None
            d.id_is_coreid = tag == "coreid"
    # fields iterate in xml2d's merge order, NOT document order (see
    # _xml2d_field_order: a singleton run followed by a multi-element
    # run puts the earlier field LAST, which flips the duplicate-index
    # winner on interleaved metas)
    for child in _xml2d_field_order(el):
        # quote-stripped term, exactly like the reference
        # (dwca.py:221 — `fld['#term'].replace('"','')`; IPT metas
        # occasionally leak quoted URIs)
        term = uri_to_curie(child.get("term", "").replace('"', ""))
        idx = child.get("index")
        # duplicate column index: the FIRST declaration wins and the
        # later one is ignored (dwca.py:243-246 — `if ... not in
        # fields`)
        if idx is not None and int(idx) not in d.term_by_index:
            d.term_by_index[int(idx)] = term
        # a default applies whether or not the field also has an
        # index (indexed: fills blanks; index-less: constant
        # column) — and EVEN when the index was a dropped
        # duplicate: the reference records the default outside the
        # dedup check, so the term surfaces as a constant column
        if child.get("default") is not None:
            d.defaults[term] = child.get("default")
    # the id/coreid binding claims its index BEFORE the field loop in
    # the reference (fields[idfld] = idtag precedes it, dwca.py:199-203),
    # so a <field> sharing the id's index is a duplicate and its term
    # mapping is DROPPED — the classic IPT layout (<id index="0"/> plus
    # occurrenceID at index 0) yields only the `id` column there
    if d.id_index is not None:
        d.term_by_index.pop(d.id_index, None)
    return d


def parse_meta_xml(xml_bytes: bytes) -> tuple[DwcaFileDescriptor, list[DwcaFileDescriptor], str | None]:
    """meta.xml -> (core descriptor, extension descriptors, metadata
    location) — the archdict build at dwca.py:85-135."""
    root = ET.fromstring(xml_bytes)
    core = None
    extensions = []
    metadata = root.get("metadata")
    for el in root:
        tag = _local(el.tag)
        if tag == "core":
            core = _parse_file_block(el)
        elif tag == "extension":
            extensions.append(_parse_file_block(el))
    if core is None:
        raise ValueError("meta.xml has no <core> element")
    return core, extensions, metadata


class DwcaArchive:
    """Extracted DwC-A with Spark readers per member.

    ``Dwca`` in the reference eagerly parses everything on open; here the
    open is metadata-only and each member read is a lazy DataFrame.
    """

    def __init__(self, zip_path: str, workdir: str | None = None):
        self.zip_path = zip_path
        self.workdir = workdir or zip_path.rsplit(".", 1)[0] + "_extracted"
        try:
            with zipfile.ZipFile(zip_path, "r") as z:
                z.extractall(self.workdir)
                names = z.namelist()
            # exact-basename match, shallowest first: the common 'zip the
            # directory' layout nests everything under one folder, and
            # member locations in meta.xml are relative to meta.xml's own
            # directory — a loose endswith would also misfire on members
            # like 'eml-meta.xml'
            metas = sorted(
                (n for n in names
                 if os.path.basename(n).lower() == "meta.xml"),
                key=lambda n: n.count("/"),
            )
            if not metas:
                raise ValueError(f"{zip_path}: no meta.xml in archive")
            meta_name = metas[0]
            #: directory all member/EML locations resolve against
            self.base_dir = os.path.join(
                self.workdir, os.path.dirname(meta_name)
            )
            with open(os.path.join(self.workdir, meta_name), "rb") as f:
                self.core, self.extensions, self.metadata_loc = (
                    parse_meta_xml(f.read())
                )
        except Exception:
            # an archive that cannot be opened leaves no extracted tree
            self.close()
            raise

    def eml(self) -> dict | None:
        """Parse the EML metadata member if declared (S4)."""
        if not self.metadata_loc:
            return None
        from idb_backend_spark.sources.eml import parse_eml

        path = os.path.join(self.base_dir, self.metadata_loc)
        if not os.path.exists(path):
            return None
        with open(path, "rb") as f:
            return parse_eml(f.read())

    def read_member(
        self, spark: SparkSession, desc: DwcaFileDescriptor
    ) -> DataFrame:
        """One member file -> DataFrame: the id/coreid column, the CURIE
        columns, then the default-value columns.

        Values follow ``read_positional``'s contract, which
        DwcaRecordFile inherits from DelimitedFile (delimited.py:255-268;
        executed: tests/test_dwca_vs_reference.py
        test_foreign_archive_value_strip_vs_reference). A term declared at
        several indexes folds in meta.xml declaration order, the last
        non-empty declaration winning (dwca.py:241-243;
        test_duplicate_term_meta_fold_vs_reference). An index past the
        member's width reads as NULL and the rows are kept, where the
        reference raises MissingFieldsException on every row and reads the
        member as empty (delimited.py:250-253;
        test_declared_index_beyond_width_vs_reference).
        """
        from idb_backend_spark.functions.enrichment import strip_nuls

        path = os.path.join(self.base_dir, desc.location)
        line_sep = {"\\n": "\n", "\\r\\n": "\r\n", "\\r": "\r"}.get(
            desc.lines_terminated_by, desc.lines_terminated_by
        )
        dialect = Dialect(
            desc.fields_terminated_by, desc.fields_enclosed_by,
            desc.encoding, line_sep or "\n", desc.ignore_header_lines,
        )
        headers = sniff_header(path, dialect)
        # The id/coreid binding claims its index BEFORE the field loop
        # (fields[idfld] = idtag, dwca.py:199-201): it leads the columns,
        # and a <field> whose bare term is literally 'id'/'coreid' claims
        # the same key after it, so that field's non-empty value beats
        # the id column in the fold and ONE id column comes out (two
        # would be ambiguous to every downstream select;
        # test_id_term_collision_vs_reference).
        id_name = "coreid" if desc.id_is_coreid else "id"
        claims = list(desc.term_by_index.items())
        if desc.id_index is not None:
            at = next(
                (i for i, (_, term) in enumerate(claims) if term == id_name),
                0,
            )
            claims.insert(at, (desc.id_index, id_name))
        df, values = read_positional(spark, path, dialect, headers,
                                     dict(claims))
        # ignoreHeaderLines > 1 (rare): the extra header records drop by
        # equality — an approximation (a data row equal to one of them
        # drops too); empty header cells compare as ''
        for hdr in (headers or [])[1:]:
            df = df.filter(~reduce(and_, [
                F.coalesce(F.col(f"_c{i}"), F.lit("")) == F.lit(v)
                for i, v in enumerate(hdr)
            ]))
        cols = []
        for term, value in values.items():
            # NULs go AFTER the blank rule, like db_check's later
            # strip_nuls pass (:170-179): NUL+whitespace strips to the
            # bare NUL (not blank — NUL is not isspace) and then loses
            # it, leaving an empty string with its key present
            value = strip_nuls(value)
            if term in desc.defaults:
                # a <field> with BOTH index and default: blank/missing
                # values take the declared default (DwC-A text guide) —
                # documented divergence (the reference never APPLIES
                # defaults). A default recorded for the id's own name (a
                # <field term="id" default=...> whose index was a dropped
                # duplicate) fills blank ids the same way instead of
                # adding a second id column
                # (test_id_default_on_dropped_duplicate_index_vs_reference)
                value = F.coalesce(value, F.lit(desc.defaults[term]))
            cols.append(value.alias(term))
        # an index-less default — or one whose index was a dropped
        # duplicate; the reference records defaults outside the dedup
        # check — is a constant column
        cols += [
            F.lit(default).alias(term)
            for term, default in desc.defaults.items()
            if term not in values
        ]
        return df.select(*cols)

    def read_core(self, spark: SparkSession) -> DataFrame:
        return self.read_member(spark, self.core)

    def read_extension(self, spark: SparkSession, i: int = 0) -> DataFrame:
        return self.read_member(spark, self.extensions[i])

    def close(self):
        import shutil

        shutil.rmtree(self.workdir, ignore_errors=True)
