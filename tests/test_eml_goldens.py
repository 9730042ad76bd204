"""S4 golden corpus — the reference's EML rights-location precedence and
contact quirks, pinned row by row.

The reference ships a 19-file golden corpus with an expectation table
(`tests/idigbio_ingestion/lib/test_eml.py:6-28`). Two layers here:

* `test_rights_synthesized_corpus` — synthesized fixtures reproducing
  each file's STRUCTURAL shape (symbiota additionalMetadata, citetitle,
  broken citetitle, ALA sections, bare para, bare element text, no
  intellectualRights at all) with the same license-relevant key text,
  asserting the reference's expected canonical license. Always runs.
* `test_rights_reference_corpus` — parses the actual reference corpus
  files and asserts the reference's own 19-row expectation table.
  Skipped when the reference checkout is absent (same gating as
  tests/test_vocab_tables.py).
"""

from __future__ import annotations

import os

import pytest

from idb_backend_spark.sources.eml import parse_eml

REF_EML_DIR = "/root/reference/tests/data/eml"

NO_LICENSE = "No license, assume Public Domain"
UNKNOWN = "Unknown License, assume Public Domain"


def _eml(dataset_body: str, additional: str = "") -> bytes:
    return (
        '<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1">'
        f"<dataset><title>T</title>{dataset_body}</dataset>"
        f"{additional}</eml:eml>"
    ).encode()


def _sym_ir(text: str) -> str:
    return (
        "<additionalMetadata><metadata><symbiota><collection>"
        f"<intellectualRights>{text}</intellectualRights>"
        "</collection></symbiota></metadata></additionalMetadata>"
    )


# Synthesized analogs of the reference's 19 expectations
# (test_eml.py:6-28), keyed by the corpus file each shape mirrors.
SYNTH_CORPUS = [
    # NHM_London: dataset/intellectualRights/para with a key sentence
    (
        "nhm_london",
        _eml(
            "<intellectualRights><para>This work is licensed under a "
            "Creative Commons CCZero License/Waiver.</para>"
            "</intellectualRights>"
        ),
        "CC0",
    ),
    # AEC-TTD-TCN: bare para whose text is the short key 'Attribution'
    (
        "aec_ttd_tcn",
        _eml(
            "<intellectualRights><para>Attribution</para>"
            "</intellectualRights>"
        ),
        "CC4 BY",
    ),
    # dr130/dr367/dr90: ALA shape — section|title|para triples, the
    # LAST section's para is the license (eml.py:86)
    (
        "dr130",
        _eml(
            "<intellectualRights>"
            "<section><title>Rights</title><para>Cite the source."
            "</para></section>"
            "<section><title>Citation</title><para>A collection."
            "</para></section>"
            "<section><title>License</title><para>Creative Commons "
            "Attribution Australia 3.0</para></section>"
            "</intellectualRights>"
        ),
        "CC3 BY",
    ),
    (
        "dr367",
        _eml(
            "<intellectualRights>"
            "<section><title>License</title><para>Creative Commons "
            "Attribution-ShareAlike Australia 2.5</para></section>"
            "</intellectualRights>"
        ),
        "CC4 BY-SA",
    ),
    (
        "dr90",
        _eml(
            "<intellectualRights>"
            "<section><title>License</title><para>Creative Commons "
            "Attribution International 3.0</para></section>"
            "</intellectualRights>"
        ),
        "CC3 BY",
    ),
    # eml-bg_vascular / tropicos / MNHN_RA: citetitle text is the key
    (
        "eml_bg_vascular",
        _eml(
            "<intellectualRights><para>Licensed under"
            '<ulink url="http://creativecommons.org/licenses/by/4.0/">'
            "<citetitle>Creative Commons Attribution (CC-BY) 4.0 License"
            "</citetitle></ulink></para></intellectualRights>"
        ),
        "CC4 BY",
    ),
    # Bohart / VT / neherbaria: BROKEN (empty) citetitle in the dataset
    # para, license carried by the symbiota additionalMetadata element
    # — the location the reference checks FIRST (eml.py:69-71)
    (
        "bohart_broken_citetitle",
        _eml(
            "<intellectualRights><para>The publisher has waived rights"
            '<ulink url="http://creativecommons.org/licenses/by-nc/3.0/">'
            "<citetitle/></ulink></para></intellectualRights>",
            additional=_sym_ir(
                "http://creativecommons.org/licenses/by-nc/3.0/"
            ),
        ),
        "CC3 BY-NC",
    ),
    # invertnet / MNHN_el: no intellectualRights anywhere
    ("invertnet_no_rights", _eml(""), NO_LICENSE),
    # museu_paraense: para prose that is NOT a table key
    (
        "museu_paraense",
        _eml(
            "<intellectualRights><para>Made available under the Open "
            "Data Commons Attribution License.</para>"
            "</intellectualRights>"
        ),
        UNKNOWN,
    ),
    # nmnh_extant: citetitle 'Public Domain (CC0 1.0)'
    (
        "nmnh_extant",
        _eml(
            "<intellectualRights><para>Dedicated to the"
            '<ulink url="x"><citetitle>Public Domain (CC0 1.0)'
            "</citetitle></ulink></para></intellectualRights>"
        ),
        "CC0",
    ),
    # UWZM: LIVE citetitle AND a symbiota element — symbiota wins
    (
        "uwzm_symbiota_wins",
        _eml(
            "<intellectualRights><para>Dedicated to the"
            '<ulink url="x"><citetitle>CC0 1.0 (Public-domain)'
            "</citetitle></ulink>for any use.</para>"
            "</intellectualRights>",
            additional=_sym_ir(
                "http://creativecommons.org/publicdomain/zero/1.0/"
            ),
        ),
        "CC0",
    ),
    # mycoportal VT: bare URL as para text
    (
        "mycoportal_bare_para",
        _eml(
            "<intellectualRights><para>"
            "http://creativecommons.org/publicdomain/zero/1.0/"
            "</para></intellectualRights>"
        ),
        "CC0",
    ),
    # rom_birdsnonpass: citetitle long CC-BY-NC key
    (
        "rom_birdsnonpass",
        _eml(
            "<intellectualRights><para><ulink url='x'><citetitle>"
            "Creative Commons Attribution Non Commercial (CC-BY-NC) "
            "4.0 License</citetitle></ulink></para></intellectualRights>"
        ),
        "CC4 BY-NC",
    ),
    # vertnet_sui: the composite 'cc0 and vertnet norms' string IS a key
    (
        "vertnet_sui",
        _eml(
            "<intellectualRights><para>"
            "http://creativecommons.org/publicdomain/zero/1.0/ and "
            "http://vertnet.org/resources/norms.html"
            "</para></intellectualRights>"
        ),
        "CC0",
    ),
    # bare element text (no para): <intellectualRights>URL</...>
    (
        "bare_element_text",
        _eml(
            "<intellectualRights>  "
            "http://creativecommons.org/licenses/by-sa/4.0/  "
            "</intellectualRights>"
        ),
        "CC4 BY-SA",
    ),
    # para that STARTS with <ulink> and an empty citetitle: para.text is
    # None (not itertext) -> the no-license sentinel (eml.py:90-94)
    (
        "para_text_none",
        _eml(
            "<intellectualRights><para><ulink url='x'><citetitle/>"
            "</ulink></para></intellectualRights>"
        ),
        NO_LICENSE,
    ),
]


@pytest.mark.parametrize(
    "name,xml,expected", SYNTH_CORPUS, ids=[r[0] for r in SYNTH_CORPUS]
)
def test_rights_synthesized_corpus(name, xml, expected):
    assert parse_eml(xml)["data_rights"] == expected


# The reference's own expectation table, verbatim
# (tests/idigbio_ingestion/lib/test_eml.py:6-28).
REFERENCE_EXPECTATIONS = [
    ("formatted.56e711e6-c847-4f99-915a-6894bb5c5dea_NHM_London.xml", "CC0"),
    ("AEC-TTD-TCN_DwC-A20160308.eml", "CC4 BY"),
    ("dr130.xml", "CC3 BY"),
    ("dr367.xml", "CC4 BY-SA"),
    ("dr90.xml", "CC3 BY"),
    ("eml-bg_vascular-v4.66.xml", "CC4 BY"),
    ("formatted.Bohart-Tardigrada_DwC-A.eml", "CC3 BY-NC"),
    ("invertnet_osu.eml.xml", NO_LICENSE),
    ("MNHN_Paris_el.xml", NO_LICENSE),
    ("MNHN_Paris_RA.xml", "CC4 BY"),
    (
        "museu_paraense_emilio_goeldi_ornithology_collection.xml",
        UNKNOWN,
    ),
    ("nmnh_extant_dwc-a.xml", "CC0"),
    ("tropicosspecimens.xml", "CC4 BY"),
    ("UWZM-F_DwC-A.eml", "CC0"),
    ("formatted.neherbaria.VT_DwC-A.eml", "CC3 BY-NC"),
    ("formatted.mycoportal.VT_DwC-A.eml", "CC0"),
    ("VT_DwC-A.eml", "CC3 BY-NC"),
    ("rom_birdsnonpass.xml", "CC4 BY-NC"),
    ("vertnet_sui_verts.xml", "CC0"),
]


def test_rights_reference_corpus():
    if not os.path.isdir(REF_EML_DIR):
        pytest.skip("reference checkout absent")
    got = {}
    for fname, expected in REFERENCE_EXPECTATIONS:
        with open(os.path.join(REF_EML_DIR, fname), "rb") as fh:
            got[fname] = parse_eml(fh.read(), id="golden")["data_rights"]
    mismatches = {
        f: (g, e)
        for (f, e), g in zip(
            REFERENCE_EXPECTATIONS,
            (got[f] for f, _ in REFERENCE_EXPECTATIONS),
        )
        if g != e
    }
    assert mismatches == {}, f"{len(mismatches)}/19 diverge: {mismatches}"


def test_reference_contacts_corpus():
    """The reference's own contact test (test_eml.py:37-44): LUC has an
    EMPTY <givenName></givenName> — the reference skips empty text, so
    no contact carries a None/empty first_name key."""
    if not os.path.isdir(REF_EML_DIR):
        pytest.skip("reference checkout absent")
    with open(os.path.join(REF_EML_DIR, "LUC_DwC-A.eml.xml"), "rb") as fh:
        md = parse_eml(fh.read())
    assert len(md["contacts"]) > 0
    for c in md["contacts"]:
        if "first_name" in c:
            assert c["first_name"] is not None


# ---- contact quirks (eml.py:113-158), synthesized ----


def test_contacts_duplicate_email_not_deduped():
    """seen_emails looks like a dedup but its `continue` only skips the
    bookkeeping append (eml.py:131-136) — duplicate-email contacts are
    ALL emitted."""
    xml = _eml(
        "<creator><individualName><surName>A</surName></individualName>"
        "<electronicMailAddress>x@y.org</electronicMailAddress></creator>"
        "<contact><individualName><surName>A</surName></individualName>"
        "<electronicMailAddress>x@y.org</electronicMailAddress></contact>"
    )
    md = parse_eml(xml)
    assert len(md["contacts"]) == 2
    assert [c["email"] for c in md["contacts"]] == ["x@y.org", "x@y.org"]


def test_contacts_role_only_from_positionName():
    xml = _eml(
        "<contact><positionName>Collection Manager</positionName>"
        "<individualName><surName>B</surName></individualName></contact>"
        "<associatedParty><individualName><surName>C</surName>"
        "</individualName></associatedParty>"
    )
    md = parse_eml(xml)
    assert md["contacts"][0]["role"] == "Collection Manager"
    assert "role" not in md["contacts"][1]


def test_contacts_individualName_direct_text_is_first_name():
    """An individualName with NO child elements maps its own text onto
    first_name (eml.py:141-143) — the whole 'Last, Title' string lands
    there, as on the reference's UWZM file."""
    xml = _eml(
        "<contact><individualName>Halverson Monahan, Curator"
        "</individualName></contact>"
    )
    md = parse_eml(xml)
    assert md["contacts"][0] == {
        "first_name": "Halverson Monahan, Curator"
    }


def test_contacts_empty_and_org_only_skipped():
    """Empty text fields are skipped (so no key appears at all), and
    organizationName is not in the tag map — an org-only party yields
    no contact."""
    xml = _eml(
        "<creator><individualName><givenName></givenName>"
        "<surName>D</surName></individualName></creator>"
        "<associatedParty><organizationName>Museum</organizationName>"
        "</associatedParty>"
    )
    md = parse_eml(xml)
    assert md["contacts"] == [{"last_name": "D"}]


# ---- collection-field quirks ----


def test_web_address_always_set_quirk():
    """pyquery .text() never returns None, so the reference's
    `is not None` elif ALWAYS fires (eml.py:62-66): no distribution url
    -> institution_web_address == ''."""
    assert parse_eml(_eml(""))["institution_web_address"] == ""
    with_dist = _eml(
        "<distribution><online><url>http://i.org</url></online>"
        "</distribution>"
    )
    assert parse_eml(with_dist)["institution_web_address"] == "http://i.org"


def test_web_address_symbiota_precedence():
    xml = _eml(
        "<distribution><online><url>http://dataset.org</url></online>"
        "</distribution>",
        additional=(
            "<additionalMetadata><metadata><symbiota><collection>"
            "<onlineUrl>http://sym.org</onlineUrl>"
            "</collection></symbiota></metadata></additionalMetadata>"
        ),
    )
    assert parse_eml(xml)["institution_web_address"] == "http://sym.org"


def test_other_guids_lowercase_tag_only():
    """The reference's selector is the literal lowercase
    `alternateidentifier` under a case-sensitive XML parser
    (eml.py:163-165): standard camelCase <alternateIdentifier> elements
    are NEVER collected."""
    xml = _eml(
        "<alternateIdentifier>urn:uuid:camel</alternateIdentifier>"
        "<alternateidentifier>urn:uuid:lower</alternateidentifier>"
    )
    assert parse_eml(xml)["other_guids"] == ["urn:uuid:lower"]


def test_collection_name_joins_all_dataset_titles():
    xml = (
        b'<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1">'
        b"<dataset><title>First</title><title>Second</title></dataset>"
        b"</eml:eml>"
    )
    assert parse_eml(xml)["collection_name"] == "First Second"


def test_description_location_precedence():
    # dataset abstract wins over symbiota abstract
    xml = _eml(
        "<abstract><para>Dataset abstract.</para></abstract>",
        additional=(
            "<additionalMetadata><metadata><symbiota><collection>"
            "<abstract><para>Symbiota abstract.</para></abstract>"
            "</collection></symbiota></metadata></additionalMetadata>"
        ),
    )
    assert parse_eml(xml)["collection_description"] == "Dataset abstract."
    # symbiota shape used when the dataset has none
    sym_only = (
        '<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1">'
        "<dataset><title>T</title></dataset>"
        "<additionalMetadata><metadata><symbiota><collection>"
        "<abstract><para>Symbiota abstract.</para></abstract>"
        "</collection></symbiota></metadata></additionalMetadata>"
        "</eml:eml>"
    ).encode()
    assert (
        parse_eml(sym_only)["collection_description"] == "Symbiota abstract."
    )


def test_logo_url_and_id_passthrough():
    xml = _eml("<resourceLogoUrl>http://logo.png</resourceLogoUrl>")
    md = parse_eml(xml, id="rs-1")
    assert md["logo_url"] == "http://logo.png"
    assert md["id"] == "rs-1"


def test_reference_collection_fields_corpus():
    """Corpus-level evidence for the collection fields (VERDICT r9 task
    5): name via `dataset > title`, the first non-empty abstract
    location, the ALWAYS-SET web address ('' when no distribution url,
    eml.py:62-66), against three structurally distinct corpus files."""
    if not os.path.isdir(REF_EML_DIR):
        pytest.skip("reference checkout absent")

    def load(fname):
        with open(os.path.join(REF_EML_DIR, fname), "rb") as fh:
            return parse_eml(fh.read())

    ipt = load("eml-bg_vascular-v4.66.xml")
    assert ipt["collection_name"] == "Vascular Plant Herbarium, UiB"
    assert ipt["collection_description"].startswith(
        "The vascular plant herbarium is divided"
    )
    assert ipt["institution_web_address"] == ""  # no distribution url

    ala = load("dr130.xml")
    assert ala["collection_name"] == "Australian National Insect Collection"
    assert ala["institution_web_address"].startswith(
        "http://collections.ala.org.au/public/sh"
    )

    sym = load("UWZM-F_DwC-A.eml")
    assert sym["collection_name"] == (
        "University of Wisconsin-Madison Zoological Museum - Fish"
    )
    # symbiota onlineUrl wins over any dataset distribution url
    assert sym["institution_web_address"] == "http://zoology.wisc.edu/uwzm/"
    # other_guids: entire corpus is camelCase alternateIdentifier ->
    # the reference's lowercase selector collects NOTHING
    assert sym["other_guids"] == []


def test_recordset_document_assembly():
    """harvest_eml's doc shape (upr.py:483-490): parse_eml fields plus
    ingest / link (the FILE link under the literal key 'link') /
    eml_link / update=isoformat."""
    import datetime

    from idb_backend_spark.sources.eml import recordset_document

    md = parse_eml(_eml(""), id="rs-recordid-1")
    doc = recordset_document(
        md,
        ingest=True,
        file_link="http://ipt/archive.do?r=x",
        eml_link="http://ipt/eml.do?r=x",
        pub_date=datetime.datetime(2026, 8, 1, 3, 4, 5),
    )
    assert doc["link"] == "http://ipt/archive.do?r=x"
    assert doc["eml_link"] == "http://ipt/eml.do?r=x"
    assert doc["update"] == "2026-08-01T03:04:05"
    assert doc["ingest"] is True
    assert doc["collection_name"] == "T" and doc["id"] == "rs-recordid-1"
    # the input metadata dict is not mutated
    assert "link" not in md
