"""S4 — EML (Ecological Metadata Language) recordset-metadata parser
(reference idigbio_ingestion/lib/eml.py:13-172).

EML documents are small per-recordset XML files — driver-side parsing is
the right scale decision (the reference agrees: plain pyquery, no
streaming). Extracted shape mirrors the reference's dict: collection
name/description/logo/web-address, contacts, rights, other_guids.

The rights extraction follows the reference's FOUR-location precedence
(eml.py:66-98) exactly:

1. ``additionalMetadata/metadata/symbiota/collection/intellectualRights``
   element — raw ``.text`` (Symbiota publishers put the bare license URL
   here; this wins even when the dataset-level intellectualRights has a
   para).
2. ``dataset > intellectualRights > para > ulink > citetitle`` — the
   dominant IPT shape (pyquery ``children()`` semantics: the dataset must
   be a DIRECT child of the root, the rest an exact child chain); text
   rendered per pyquery 2.0.1 ``.text()`` (see :func:`_el_text` —
   innerText semantics, block boundaries as newlines; the 2.0.1 pin is
   the reference's Pipfile.lock). An empty/self-closed ``<citetitle/>``
   yields '' and falls through.
3. ``dataset > intellectualRights > section:last-child > para`` — the ALA
   shape (eml.py:86): sections titled Rights/Citation/License, the LAST
   section's para is the license. Here ``dataset`` may sit at any depth
   (pyquery ``.find()`` uses descendant-or-self, unlike step 2's
   ``children()`` — the asymmetry is the reference's).
4. The first ``dataset/intellectualRights`` element's first direct
   ``para`` child's raw ``.text`` (eml.py:90-94 — NOT itertext: a para
   that starts with a ``<ulink>`` has ``.text`` None and lands on the
   no-license sentinel), else the element's own stripped text (the bare
   ``<intellectualRights>http://...</intellectualRights>`` shape).

Whatever text wins is folded through the license table — the raw text is
NEVER emitted (eml.py:100-109): a table hit maps to the canonical short
form, a miss to "Unknown License, assume Public Domain", no text at all
to "No license, assume Public Domain".

Element matching is by LOCAL name (namespace-insensitive): every real
EML document qualifies only the ``eml:eml`` root, so results are
identical on the reference's whole golden corpus; fully-qualified
variants parse here instead of silently extracting nothing.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET


def _local(tag) -> str:
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


def _find_all(root, name: str):
    return [el for el in root.iter() if _local(el.tag) == name]


def _path_all(root, *names):
    """All elements at the exact child path ``names`` under ``root``
    (document order), matching each step by local name — the ET analog
    of the reference's ``find("a/b/c")`` / pyquery ``a > b > c``."""
    cur = [root]
    for n in names:
        cur = [c for el in cur for c in el if _local(c.tag) == n]
    return cur


#: pyquery 2.0 text.py INLINE_TAGS / SEPARATORS — HTML names. No EML
#: term is in either set, so every EML element is a block boundary;
#: kept complete in case a document embeds literally-HTML-named tags
#: (pyquery applies the same sets in XML mode).
_INLINE_TAGS = frozenset(
    "a abbr acronym b bdo big br button cite code dfn em font i img "
    "input kbd label map object q s samp select small span strike "
    "strong sub sup textarea tt u var".split()
)
_SEPARATORS = frozenset(("br",))


def _innertext_parts(el, out: list) -> None:
    if callable(el.tag):  # comment/PI
        return
    block = el.tag not in _INLINE_TAGS or el.tag in _SEPARATORS
    if block:
        out.append(None)
    if el.text is not None:
        out.append(el.text)
    for child in el:
        _innertext_parts(child, out)
        if child.tail is not None:
            out.append(child.tail)
    if block:
        out.append(None)


def _el_text(el) -> str:
    """One element through pyquery 2.0.1 ``.text()`` (the version the
    reference's Pipfile.lock pins): browser-innerText semantics — text
    runs whitespace-squashed and stripped, element (block) boundaries
    rendered as NEWLINES, edge boundaries stripped. pyquery 1.x
    space-joined stripped segments instead; the executed
    differential (tests/test_eml_vs_reference.py) pinned the 2.0
    behavior: ``<para>foo <ulink><citetitle>X</citetitle></ulink>
    bar</para>`` renders ``'foo\\nX\\nbar'``, not ``'foo X bar'``."""
    raw: list = []
    _innertext_parts(el, raw)
    # stage 1 — squash marker runs (consecutive Nones) to one
    squashed: list = []
    last_nl = False
    for x in raw:
        if x is not None:
            squashed.append(x)
            last_nl = False
        elif not last_nl:
            squashed.append(None)
            last_nl = True
    # stage 2 — strip edge markers
    first = next(
        (i for i, p in enumerate(squashed) if isinstance(p, str)), None
    )
    if first is None:
        return ""
    last = max(i for i, p in enumerate(squashed) if isinstance(p, str))
    squashed = squashed[first:last + 1]
    # stage 3 — merge consecutive text pieces: whitespace-squash +
    # strip, EMPTY runs vanish (two markers separated only by
    # whitespace therefore render as two newlines — the library's own
    # staged order, pinned by the differential)
    merged: list = []
    buf: list[str] = []
    for x in squashed:
        if isinstance(x, str):
            buf.append(x)
        else:
            run = " ".join("".join(buf).split())
            buf.clear()
            if run:
                merged.append(run)
            merged.append(None)
    run = " ".join("".join(buf).split())
    if run:
        merged.append(run)
    # stage 4 — markers render as newlines; final strip
    return "".join("\n" if p is None else p for p in merged).strip()


def _pq_text(els) -> str:
    """pyquery 2.0.1 ``.text()`` over a selection: each element rendered
    by :func:`_el_text`, elements joined with a literal single space
    (an empty element's '' participates in the join, like the
    library's); '' for an empty selection (never None)."""
    return " ".join(_el_text(el) for el in els)


def _rights_text(root) -> str | None:
    """The reference's rights-location precedence (eml.py:66-98)."""
    sym = _path_all(
        root,
        "additionalMetadata",
        "metadata",
        "symbiota",
        "collection",
        "intellectualRights",
    )
    if sym:
        return sym[0].text  # raw .text, may be None (eml.py:71)

    cite = _pq_text(
        _path_all(root, "dataset", "intellectualRights", "para", "ulink", "citetitle")
    )
    if len(cite) > 0:
        return cite  # eml.py:75-78

    # ALA: dataset at any depth; the section must be the LAST element
    # child of its intellectualRights (css :last-child, eml.py:86)
    ala_paras = []
    for ds in _find_all(root, "dataset"):
        for ir in (c for c in ds if _local(c.tag) == "intellectualRights"):
            kids = list(ir)
            if kids and _local(kids[-1].tag) == "section":
                ala_paras += [p for p in kids[-1] if _local(p.tag) == "para"]
    ala = _pq_text(ala_paras)
    if len(ala) > 0:
        return ala

    irs = _path_all(root, "dataset", "intellectualRights")
    if irs:
        ir = irs[0]
        paras = [c for c in ir if _local(c.tag) == "para"]
        if paras:
            return paras[0].text  # raw .text, None when para starts with a child
        if ir.text is not None and ir.text.strip() != "":
            return ir.text.strip()
    return None


_CONTACT_TAGS = ("creator", "metadataProvider", "associatedParty", "contact")


def _apply_contact_field(contact: dict, tag: str, text) -> None:
    """One field of the reference's tag→key map (eml.py:117-157): note
    individualName's own text ALSO lands on first_name, role comes only
    from positionName, organizationName is ignored, and values are kept
    RAW (no strip — whitespace-only text is a real value there)."""
    if text is None or text == "":
        return
    if tag in ("individualName", "givenName"):
        contact["first_name"] = text
    elif tag == "surName":
        contact["last_name"] = text
    elif tag == "electronicMailAddress":
        contact["email"] = text
    elif tag == "positionName":
        contact["role"] = text


def parse_eml(xml_bytes: bytes | str, id: str | None = None) -> dict:
    """EML -> recordset metadata dict (eml.py:13-172 shape):
    ``collection_name``, ``collection_description``, ``data_rights``,
    ``logo_url`` (key present only when a resourceLogoUrl element
    exists), ``institution_web_address``, ``contacts``, ``other_guids``
    (and ``id`` when supplied, like the reference's first positional
    arg)."""
    if isinstance(xml_bytes, str):
        xml_bytes = xml_bytes.encode("utf-8")
    root = ET.fromstring(xml_bytes)

    out: dict = {}
    if id is not None:
        out["id"] = id

    # logo: first resourceLogoUrl anywhere, raw .text (eml.py:39-42).
    # The KEY is only set when the element exists — the reference's
    # `if rlu is not None` guard means key-absence, not None
    # (executed-differential finding, tests/test_eml_vs_reference.py)
    logos = _find_all(root, "resourceLogoUrl")
    if logos:
        out["logo_url"] = logos[0].text

    # dataset > title: ALL matches joined (pyquery text), '' when absent
    out["collection_name"] = _pq_text(_path_all(root, "dataset", "title"))

    # first non-empty of the four abstract locations (eml.py:48-59);
    # within a location, every matching para joins into one blob
    desc = ""
    for path in (
        ("dataset", "abstract", "para"),
        ("symbiota", "collection", "abstract", "para"),
        ("additionalMetadata", "metadata", "abstract", "para"),
        ("abstract", "para"),
    ):
        # the reference's selectors anchor the FIRST step at any depth
        # (css descendant semantics); later steps are direct children
        anchors = _find_all(root, path[0])
        els = [e for a in anchors for e in _path_all(a, *path[1:])]
        desc += _pq_text(els)
        if len(desc) > 0:
            break
    out["collection_description"] = desc

    # web address: symbiota onlineUrl element first; OTHERWISE ALWAYS
    # set — pyquery .text() returns '' (never None) so the reference's
    # `is not None` elif always fires (eml.py:62-66): missing -> ''
    iwa = _path_all(
        root, "additionalMetadata", "metadata", "symbiota", "collection", "onlineUrl"
    )
    if iwa:
        out["institution_web_address"] = iwa[0].text
    else:
        # css descendant chain: url under online under distribution
        # under dataset, each at any depth; document order
        parent = {c: p for p in root.iter() for c in p}

        def _under(el, names):
            for n in names:  # innermost-first ancestor walk
                el = parent.get(el)
                while el is not None and _local(el.tag) != n:
                    el = parent.get(el)
                if el is None:
                    return False
            return True

        urls = [
            u
            for u in root.iter()
            if _local(u.tag) == "url"
            and _under(u, ("online", "distribution", "dataset"))
        ]
        out["institution_web_address"] = _pq_text(urls)

    rights = _rights_text(root)
    # the raw text is never emitted: table fold + two sentinels
    # (eml.py:100-109), same table as the reference's
    # acceptable_licenses_trans including its preserved bugs
    from idb_backend_spark.data.licenses import LICENSE_TRANS

    if rights is None:
        out["data_rights"] = "No license, assume Public Domain"
    else:
        out["data_rights"] = LICENSE_TRANS.get(
            rights, "Unknown License, assume Public Domain"
        )

    # contacts: one dict per creator/metadataProvider/associatedParty/
    # contact element in DOCUMENT order (pyquery's comma selector returns
    # document order, not selector order). No deduplication: the
    # reference's seen_emails `continue` only skips its own bookkeeping
    # append — it can never skip the contact append (eml.py:131-136,
    # 150-155) — so duplicate-email contacts ARE all emitted. Keys are
    # set only when a recognized child has non-empty text; the element
    # type is NOT recorded as a role.
    contacts = []
    for c in (el for el in root.iter() if _local(el.tag) in _CONTACT_TAGS):
        contact: dict = {}
        for cc in list(c):
            cch = list(cc)
            if cch:
                for ccc in cch:
                    _apply_contact_field(contact, _local(ccc.tag), ccc.text)
            else:
                _apply_contact_field(contact, _local(cc.tag), cc.text)
        if contact:
            contacts.append(contact)
    out["contacts"] = contacts

    # other_guids: the reference selects the literal LOWERCASE tag
    # `alternateidentifier` with a case-sensitive XML parser
    # (eml.py:163-165) — standard EML's camelCase <alternateIdentifier>
    # never matches, so this collects nothing on real IPT documents.
    # Preserved verbatim: only literally-lowercase tags are gathered.
    out["other_guids"] = [
        g.text for g in root.iter() if _local(g.tag) == "alternateidentifier"
    ]

    return out


def recordset_document(
    md: dict, ingest, file_link, eml_link, pub_date
) -> dict:
    """The stored recordset document assembled by harvest_eml
    (update_publisher_recordset.py:483-490): the parse_eml dict plus
    ``ingest``, ``link`` (the FILE link — the key is literally 'link'),
    ``eml_link``, and ``update`` = pub_date.isoformat(). This is the
    body whose calcEtag becomes the recordset's stored version
    (db.set_record with parent = publisher uuid and NO siblings)."""
    out = dict(md)
    out["ingest"] = ingest
    out["link"] = file_link
    out["eml_link"] = eml_link
    out["update"] = pub_date.isoformat()
    return out
