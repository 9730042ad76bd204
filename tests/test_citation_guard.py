"""Structural guard: every ``tests/test_*.py`` path cited inside the
package, bench.py, the tests, DESIGN.md or README.md (retirement
rationales, docstrings, comments, design pins — the grading audit
trail) must name a file that actually exists, and a cited
``::test_function`` must exist inside that file.
Cited ``tools/*.py`` scripts, ``plans/<dir>/<file>`` plan captures and
repo-root ``*.md`` docs must exist too, and a cited module name such as
``operators/dedup.minhash_lsh_pairs`` must be defined in that module.

Round-8 defect #2 was exactly this drift: a dqs retirement rationale
cited a flags test file that had never existed — a dangling citation in
the one place whose whole job is to explain a grading gap. Deleting a
tool or doc without repointing its citations is the same drift.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "idb_backend_spark"

# `::` may be followed by a line wrap inside a comment block
# (`...test_typed_schema.py::\n# test_dqs_...`), so \s* and an optional
# comment prefix sit between the separator and the function name.
_CITE = re.compile(r"tests/(test_\w+)\.py(?:\s*::\s*(?:#\s*)?(test_\w+))?")
_TOOL = re.compile(r"tools/(\w+)\.py")
# a bare doc name, not a path into a subdirectory (perfbench/README.md)
_DOC = re.compile(r"(?<![\w/.-])([\w-]+\.md)\b")
# a capture under the repo-root plans/ directory — not a module of the
# package's idb_backend_spark/plans/ (the lookbehind rejects the prefix)
_PLAN = re.compile(r"(?<![\w/.-])plans/\w+/[\w.{},-]+")
# a `<subpackage>.<module>.<name>` or `<subpackage>/<module>.<name>`
# citation of a name in one of the package's modules, optionally behind
# the package prefix
_NAME = re.compile(
    r"(?<![\w/.])(?:idb_backend_spark[./])?"
    r"(functions|operators|plans|query|sources|export|streaming)"
    r"[./](\w+)\.(\w+)"
)


def _plan_cites(text: str) -> list[str]:
    """Cited plan-capture paths, ``{a,b}`` brace lists expanded."""
    out = []
    todo = [m.group(0).rstrip(".,") for m in _PLAN.finditer(text)]
    while todo:
        path = todo.pop()
        b = re.search(r"\{([^}]*)\}", path)
        if b is None:
            out.append(path)
        else:
            todo += [
                path[: b.start()] + alt + path[b.end() :]
                for alt in b.group(1).split(",")
            ]
    return sorted(out)


def _top_level_names(path: Path) -> set[str]:
    """Functions, classes and assigned constants defined at the top level
    of ``path`` — not names it imports, whose home is another module."""
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
    return names


def _sources() -> list[Path]:
    return [
        *PKG.rglob("*.py"),
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *(REPO / "tests").rglob("*.py"),
    ]


def _cited() -> list[tuple[Path, str, str | None]]:
    """Test citations in the code and in the two docs that name a test
    as the pin of a design decision."""
    out = []
    for src in [*_sources(), REPO / "DESIGN.md", REPO / "README.md"]:
        for m in _CITE.finditer(src.read_text()):
            out.append((src, m.group(1), m.group(2)))
    return out


def test_cited_test_files_exist():
    cites = _cited()
    assert cites, "expected at least one tests/ citation in the package"
    missing = []
    for src, fname, func in cites:
        tpath = REPO / "tests" / f"{fname}.py"
        if not tpath.exists():
            missing.append(f"{src.relative_to(REPO)} cites {fname}.py (absent)")
        elif func is not None and f"def {func}(" not in tpath.read_text():
            missing.append(
                f"{src.relative_to(REPO)} cites {fname}.py::{func} (no such test)"
            )
    assert not missing, "dangling test citations:\n" + "\n".join(missing)


def test_cited_tools_and_docs_exist():
    missing = []
    for src in _sources():
        text = src.read_text()
        cited = [f"tools/{m.group(1)}.py" for m in _TOOL.finditer(text)]
        cited += [m.group(1) for m in _DOC.finditer(text)]
        cited += _plan_cites(text)
        missing += [
            f"{src.relative_to(REPO)} cites {c} (absent)"
            for c in cited
            if not (REPO / c).exists()
        ]
    assert not missing, "dangling tool/doc citations:\n" + "\n".join(missing)


def test_cited_module_names_exist():
    """A name cited through its module (``functions.text.tokens``,
    ``operators/dedup.minhash_lsh_pairs``) must be a top-level name
    defined in that module: a deleted, renamed or moved name leaves the
    citation pointing at nothing."""
    names: dict[Path, set[str]] = {}
    n_cited, missing = 0, []
    for src in _sources():
        for m in _NAME.finditer(src.read_text()):
            pkg, mod, name = m.groups()
            if name == "py":  # a file path (operators/dedup.py), not a name
                continue
            n_cited += 1
            path = PKG / pkg / f"{mod}.py"
            if path.exists() and path not in names:
                names[path] = _top_level_names(path)
            if name not in names.get(path, ()):
                missing.append(f"{src.relative_to(REPO)} cites {m.group(0)}")
    assert n_cited, "expected at least one module.name citation"
    assert not missing, "dangling module.name citations:\n" + "\n".join(missing)


def test_module_name_citation_pattern():
    text = (
        "see operators/dedup.minhash_lsh_pairs and functions.text.tokens; "
        "idb_backend_spark.plans.synth.EXACT_JACCARD_SQL; not "
        "operators/dedup.py, x.operators.dedup.y or tools/scale_probe.py"
    )
    got = [m.groups() for m in _NAME.finditer(text)]
    assert got == [
        ("operators", "dedup", "minhash_lsh_pairs"),
        ("functions", "text", "tokens"),
        ("plans", "synth", "EXACT_JACCARD_SQL"),
        ("operators", "dedup", "py"),
    ]


def test_plan_capture_citation_pattern():
    # the root spelled apart so this file holds no citation of its own
    d = "plans" + "/"
    text = (
        f"see {d}base/q_{{before,after}}.txt, and {d}noaqe/x_noaqe.txt. "
        "Not idb_backend_spark/plans/q_relational.py"
    )
    assert _plan_cites(text) == [
        f"{d}base/q_after.txt",
        f"{d}base/q_before.txt",
        f"{d}noaqe/x_noaqe.txt",
    ]


# a repo-root doc cited with a section: `<doc> §N` (a numbered heading,
# as in SURVEY's §2.10) or `<doc>, "Heading text"` (a heading's leading
# words, optionally ended by an ellipsis). The quoted name may wrap
# across comment lines.
_SECTION = re.compile(
    r"(?<![\w/.-])([\w-]+\.md)"
    r"(?:\s*§\s*(\d+(?:\.\d+)*)|,\s*\"([^\"]+)\")"
)


def _norm(text: str) -> str:
    """Lower-cased, with comment markers at wrapped lines dropped, a
    trailing ellipsis cut and whitespace runs collapsed."""
    text = re.sub(r"\n\s*#", " ", text)
    text = re.sub(r"(…|\.\.\.)\s*$", "", text.strip())
    return " ".join(text.split()).lower()


def _headings(doc: Path) -> list[str]:
    return [
        _norm(line.lstrip("#"))
        for line in doc.read_text().splitlines()
        if re.match(r"#{1,6} ", line)
    ]


def _section_misses(text: str, docs: Path) -> list[str]:
    """Each section citation in ``text`` whose doc under ``docs`` is
    absent or holds no matching heading."""
    misses = []
    for m in _SECTION.finditer(text):
        doc, number, name = m.groups()
        path = docs / doc
        if not path.exists():
            misses.append(f"{doc} (absent)")
            continue
        heads = _headings(path)
        if number is not None:
            pat = rf"{re.escape(number)}(\.|\s|$)"
            ok = any(re.match(pat, h) for h in heads)
        else:
            ok = any(h.startswith(_norm(name)) for h in heads)
        if not ok:
            misses.append(m.group(0).replace("\n", " "))
    return misses


def test_cited_doc_sections_resolve():
    """A cited section of a repo-root doc must be a heading in that doc:
    renaming or deleting the heading leaves the citation pointing at
    nothing. Scans the package, the tests and the tools."""
    sources = [*_sources(), *(REPO / "tools").rglob("*.py")]
    n_cited, missing = 0, []
    for src in sources:
        text = src.read_text()
        n_cited += len(_SECTION.findall(text))
        missing += [
            f"{src.relative_to(REPO)} cites {c}"
            for c in _section_misses(text, REPO)
        ]
    assert n_cited, "expected at least one doc-section citation"
    assert not missing, "dangling doc sections:\n" + "\n".join(missing)


def test_doc_section_citation_pattern(tmp_path):
    # the doc names spelled apart so this file holds no citation of its own
    doc = "NOTES" + ".md"
    (tmp_path / doc).write_text(
        "# Notes\n\n## 2. Inventory\n\n### 2.10 Streaming\n\n"
        "### Hot-key skew evidence for the joins\n"
    )
    good = (
        f'see {doc} §2, {doc} §2.10 and ({doc}, "hot-key skew evidence\n'
        f'    # for the joins"), also {doc}, "Hot-key skew …"'
    )
    assert _section_misses(good, tmp_path) == []
    bad = f'{doc} §3, {doc}, "cold-key skew", {"GONE" + ".md"}, "x"'
    assert _section_misses(bad, tmp_path) == [
        f"{doc} §3",
        f'{doc}, "cold-key skew"',
        "GONE" + ".md (absent)",
    ]
