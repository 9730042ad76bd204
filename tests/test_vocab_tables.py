"""Vocabulary-table parity tests (S3/F10/F14 data).

Golden rows are hand-typed public standards facts (Darwin Core term
registry, CC license URLs, GBIF rank vocabulary) matching the reference
registry's documented behavior (idb/helpers/fieldnames.py doctests,
idb/data_tables/*). The full-table parity checks run only where a
reference checkout is present.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from idb_backend_spark.data.licenses import LICENSE_TRANS, LICENSES
from idb_backend_spark.data.taxon_ranks import ACCEPTABLE, MAPPING
from idb_backend_spark.data.term_translate import (
    NAMESPACES,
    ROWTYPES,
    TRANSLATE,
)
from idb_backend_spark.functions.enrichment import (
    license_attributes,
    pick_license,
)
from idb_backend_spark.sources.fieldnames import (
    get_canonical_name,
    rowtype_shortname,
)

REF = Path("/root/reference")


def test_translate_table_is_full():
    # the reference registry carries ~496 translate rows across 28
    # namespaces; a subset regression would silently degrade unknown
    # provider headers to Unknown
    assert len(TRANSLATE) >= 490
    assert len(NAMESPACES) >= 28
    assert len(ROWTYPES) >= 20


def test_canonical_name_doctest_cases():
    # the reference's own doctest triple (fieldnames.py:604-618)
    assert get_canonical_name("dwc:verbatimElevation") == (
        "dwc:verbatimElevation", "dwc:Occurrence",
    )
    assert get_canonical_name("MonthCollected") == (
        "dwc:month", "dwc:Occurrence",
    )
    assert get_canonical_name("asdf:InvalidNonexistentField用語") == (
        "asdf:InvalidNonexistentField", "Unknown",
    )


def test_translate_golden_rows():
    assert TRANSLATE["Collector"] == ("dwc:recordedBy", "dwc:Occurrence")
    assert TRANSLATE["BasisOfRecord"] == ("dwc:basisOfRecord", "dwc:Occurrence")
    assert TRANSLATE["ac:accessURI"] == ("ac:accessURI", "dwc:Multimedia")
    assert TRANSLATE["coreid"] == ("coreid", "dwc:Text:Extension")
    # drop-marked provider bookkeeping column
    assert TRANSLATE["Annotations"] == (None, "dwc:Multimedia")


def test_rowtype_registry():
    assert rowtype_shortname(
        "http://rs.gbif.org/terms/1.0/Multimedia"
    ) == "dwc:Multimedia"
    assert rowtype_shortname(
        "http://rs.tdwg.org/dwc/terms/Occurrence"
    ) == "dwc:Occurrence"
    assert rowtype_shortname("http://nonexistent/rowtype") is None


def test_license_table_full():
    assert len(LICENSE_TRANS) >= 100
    # every scheme/trailing-slash variant of the CC URL family resolves
    for url, tag in [
        ("http://creativecommons.org/licenses/by-nc-sa/3.0/", "CC3 BY-NC-SA"),
        ("https://creativecommons.org/licenses/by/4.0", "CC4 BY"),
        ("http://creativecommons.org/publicdomain/zero/1.0/", "CC0"),
        ("cc-by-nc-nd", "CC4 BY-NC-ND"),
        ("CC BY-SA", "CC4 BY-SA"),
    ]:
        assert LICENSE_TRANS[url] == tag, url
    # attribute lookup carries the logo/webstatement payload
    attrs = license_attributes("CC4 BY")
    assert attrs["rights"] == "BY"
    assert "creativecommons.org" in attrs["webstatement"]
    assert "Public Domain" in LICENSES


def test_pick_license_goldens():
    assert pick_license(
        "http://creativecommons.org/licenses/by-nc-sa/4.0/"
    ) == "CC4 BY-NC-SA"
    assert pick_license("CC0 1.0 Universal") == "CC0"
    assert pick_license("public domain") == "Public Domain"
    assert pick_license("no license here") is None
    # most-restrictive fragment wins regardless of order
    assert pick_license(
        "Creative Commons BY 3.0 then BY-NC 4.0"
    ) == "CC4 BY-NC"


def test_taxon_rank_table_full():
    assert len(MAPPING) >= 310 and len(ACCEPTABLE) >= 38
    assert MAPPING["espécie"] == "species"  # multilingual spellings present
    assert MAPPING["division"] == "phylum"
    assert MAPPING["subsp."] == "subspecies"
    assert MAPPING["aberration"] is None  # invalid-rank entries map to None
    for rank in ("cohort", "speciesAggregate", "cultivarGroup", "strain"):
        assert rank in ACCEPTABLE, rank


def _load_ref(relpath):
    p = REF / relpath
    if not p.exists():
        pytest.skip("reference checkout absent")
    spec = importlib.util.spec_from_file_location(p.stem, p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_full_parity_with_reference_tables():
    fn = _load_ref("idb/helpers/fieldnames.py")
    assert len(TRANSLATE) == len(fn.translate_dict)
    for k, v in fn.translate_dict.items():
        assert TRANSLATE[k] == tuple(v), k
    rs = _load_ref("idb/data_tables/rights_strings.py")
    assert LICENSE_TRANS == rs.acceptable_licenses_trans
    assert LICENSES == rs.licenses
    tr = _load_ref("idb/data_tables/taxon_rank.py")
    assert MAPPING == tr.mapping
    assert ACCEPTABLE == frozenset(tr.acceptable)


def test_pick_license_parity_with_reference():
    import contextlib
    import io

    rs = _load_ref("idb/data_tables/rights_strings.py")
    for s in list(rs.acceptable_licenses_trans) + list(rs.manual_assignment):
        with contextlib.redirect_stderr(io.StringIO()):
            want = rs.pick_license(s)
        assert pick_license(s) == want, s
