"""OBO ontology parsing and dictionary construction.

Reproduces the reference's dictionary-build semantics (WHAT, not HOW):
OBO/OWL ontology → dictionary of ``(concept_id, canonical, variants)``
entries, optionally filtered per-concept by pluggable modifiers
(``ConceptMapperDictionaryFileFactory.java:267-284``; modifier contract
``DictionaryEntryModifier`` used at ``:84-86``; XML format evidenced in the
test fixture ``cmDict-Eval_condition1_hplr.xml:1-24``).

Driver-side, pure Python: ontologies are small relative to the corpus
(10^4–10^6 terms vs 10^12 turns) so the dictionary is built once on the
driver, persisted as a DataFrame, and broadcast as a trie to executors.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

from .normalize import MatchConfig, SYN_EXACT_ONLY, normalize_variant

OBO_URI_PREFIX = "http://purl.obolibrary.org/obo/"

_SYN_RE = re.compile(r'^synonym:\s*"((?:[^"\\]|\\.)*)"\s*([A-Z_]*)')


@dataclass
class Term:
    """One ``[Term]`` stanza (cf. ``oboFiles/cl-basic.obo`` structure)."""

    id: str = ""
    name: str = ""
    namespace: str = ""
    synonyms: list[tuple[str, str]] = field(default_factory=list)  # (text, scope)
    is_a: list[str] = field(default_factory=list)
    xrefs: list[str] = field(default_factory=list)
    is_obsolete: bool = False
    replaced_by: Optional[str] = None
    consider: list[str] = field(default_factory=list)


def parse_obo(path_or_text: str, from_text: bool = False) -> list[Term]:
    """Parse an OBO file into Term records. Handles the subset of tags the
    reference consumes: id, name, namespace, synonym (scope), is_a, xref,
    is_obsolete, replaced_by, consider."""
    if from_text:
        lines = path_or_text.splitlines()
    else:
        with open(path_or_text, encoding="utf-8") as f:
            lines = f.read().splitlines()

    terms: list[Term] = []
    cur: Optional[Term] = None
    in_term = False
    for line in lines:
        line = line.strip()
        if line.startswith("["):
            if cur is not None and cur.id:
                terms.append(cur)
            in_term = line == "[Term]"
            cur = Term() if in_term else None
            continue
        if cur is None or not line:
            continue
        if line.startswith("id: "):
            cur.id = line[4:].strip()
        elif line.startswith("name: "):
            cur.name = line[6:].strip()
        elif line.startswith("namespace: "):
            cur.namespace = line[11:].strip()
        elif line.startswith("synonym:"):
            m = _SYN_RE.match(line)
            if m:
                text = m.group(1).replace('\\"', '"')
                scope = m.group(2) or "RELATED"
                cur.synonyms.append((text, scope))
        elif line.startswith("is_a: "):
            cur.is_a.append(line[6:].split("!")[0].strip())
        elif line.startswith("xref: "):
            cur.xrefs.append(line[6:].split("!")[0].strip().split('"')[0].strip())
        elif line.startswith("is_obsolete: true"):
            cur.is_obsolete = True
        elif line.startswith("replaced_by: "):
            cur.replaced_by = line[13:].strip()
        elif line.startswith("consider: "):
            cur.consider.append(line[10:].strip())
    if cur is not None and cur.id:
        terms.append(cur)
    return terms


_OWL_NS = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "oio": "http://www.geneontology.org/formats/oboInOwl#",
    "obo": "http://purl.obolibrary.org/obo/",
}
_SYN_SCOPE_TAGS = {
    "hasExactSynonym": "EXACT",
    "hasRelatedSynonym": "RELATED",
    "hasBroadSynonym": "BROAD",
    "hasNarrowSynonym": "NARROW",
}


def _curie(uri: str) -> str:
    """OBO PURL → CURIE (``…/obo/CL_0000540`` → ``CL:0000540``); non-OBO
    IRIs pass through verbatim (the UriFactory passthrough rule)."""
    if uri.startswith(OBO_URI_PREFIX):
        frag = uri[len(OBO_URI_PREFIX):]
        if "_" in frag:
            pfx, local = frag.split("_", 1)
            return f"{pfx}:{local}"
    return uri


def parse_owl(path_or_text: str, from_text: bool = False) -> list[Term]:
    """Parse an OBO-in-OWL RDF/XML ontology into the same ``Term`` records
    as ``parse_obo`` — the reference accepts both formats through OWLAPI
    (``ConceptMapperDictionaryFileFactory.java:269`` throws
    ``OWLOntologyCreationException``).  Consumes the OBO-in-OWL vocabulary:
    ``rdfs:label``, ``oboInOwl:has{Exact,Related,Broad,Narrow}Synonym``,
    ``oboInOwl:hasOBONamespace``, direct ``rdfs:subClassOf`` resources
    (is_a; anonymous restrictions skipped), ``owl:deprecated``,
    ``obo:IAO_0100001`` (term-replaced-by), ``oboInOwl:consider`` and
    ``oboInOwl:hasDbXref``."""
    import xml.etree.ElementTree as ET

    root = (ET.fromstring(path_or_text) if from_text
            else ET.parse(path_or_text).getroot())
    rdf_about = f"{{{_OWL_NS['rdf']}}}about"
    rdf_resource = f"{{{_OWL_NS['rdf']}}}resource"
    terms: list[Term] = []
    for cls in root.iter(f"{{{_OWL_NS['owl']}}}Class"):
        about = cls.get(rdf_about)
        if not about:
            continue  # anonymous class (restriction operand)
        t = Term(id=_curie(about))
        for child in cls:
            tag_ns, _, tag = child.tag.rpartition("}")
            tag_ns = tag_ns.lstrip("{")
            text = (child.text or "").strip()
            res = child.get(rdf_resource)
            if tag == "label" and tag_ns == _OWL_NS["rdfs"]:
                t.name = text
            elif tag_ns == _OWL_NS["oio"] and tag in _SYN_SCOPE_TAGS:
                if text:
                    t.synonyms.append((text, _SYN_SCOPE_TAGS[tag]))
            elif tag == "hasOBONamespace" and tag_ns == _OWL_NS["oio"]:
                t.namespace = text
            elif tag == "subClassOf" and tag_ns == _OWL_NS["rdfs"] and res:
                t.is_a.append(_curie(res))
            elif tag == "deprecated" and tag_ns == _OWL_NS["owl"]:
                t.is_obsolete = text.lower() == "true"
            elif tag == "IAO_0100001" and tag_ns == _OWL_NS["obo"]:
                if res:
                    t.replaced_by = _curie(res)
                elif text:
                    t.replaced_by = text
            elif tag == "consider" and tag_ns == _OWL_NS["oio"]:
                if text:
                    t.consider.append(text)
            elif tag == "hasDbXref" and tag_ns == _OWL_NS["oio"]:
                if text:
                    t.xrefs.append(text)
        if t.id:
            terms.append(t)
    return terms


def parse_ontology(path: str) -> list[Term]:
    """Format dispatch: ``.owl`` → RDF/XML parser, anything else → OBO."""
    if path.endswith(".owl"):
        return parse_owl(path)
    return parse_obo(path)


# ---------------------------------------------------------------------------
# Dictionary entry modifiers — the reference's pluggable
# ``DictionaryEntryModifier.modifyConcept(Concept) -> Concept|null`` contract
# (drop a concept by returning None; prune synonyms by returning a modified
# concept).  Reference impls: ``CHEBIDictionaryEntryModifier.java:40-67``
# (drops 4 ids), ``PRDictionaryEntryModifier.java:43-73`` (drops synonyms
# like "2-1", "20.5"), wired per namespace in
# ``MaylaCraftConceptMapperEvaluatorMain.java:131-141``.
# ---------------------------------------------------------------------------

DictEntry = tuple[str, str, list[tuple[str, str]]]  # (id, canonical, [(variant, scope)])
EntryModifier = Callable[[str, str, list[tuple[str, str]]], Optional[DictEntry]]

# ids dropped by the reference CHEBI modifier (CHEBIDictionaryEntryModifier.java:47-63)
CHEBI_DROP_IDS = frozenset(
    {"CHEBI:33252", "CHEBI:30222", "CHEBI:33250", "CHEBI:33731"}
)
# synonyms dropped by the reference PR modifier (PRDictionaryEntryModifier.java:52-69)
PR_DROP_SYNONYMS = frozenset({"2-1", "20.5"})


def chebi_entry_modifier(cid: str, canonical: str, variants: list[tuple[str, str]]):
    if cid in CHEBI_DROP_IDS:
        return None
    return (cid, canonical, variants)


def pr_entry_modifier(cid: str, canonical: str, variants: list[tuple[str, str]]):
    kept = [(v, s) for (v, s) in variants if v not in PR_DROP_SYNONYMS]
    return (cid, canonical, kept)


MODIFIERS_BY_NAMESPACE: dict[str, EntryModifier] = {
    "CHEBI": chebi_entry_modifier,
    "PR": pr_entry_modifier,
}


# ---------------------------------------------------------------------------
# Dictionary rows
# ---------------------------------------------------------------------------

def dictionary_rows(
    terms: Iterable[Term],
    ontology: str,
    config: MatchConfig,
    modifier: Optional[EntryModifier] = None,
    min_variant_len: int = 3,
) -> list[dict]:
    """Flatten Terms into dictionary rows
    ``(ontology, concept_id, canonical, variant, is_official, variant_norm)``
    — schema per SURVEY.md §1.2.  Obsolete terms are excluded (the reference
    dictionary builder skips them).  SynonymType knob: EXACT_ONLY keeps only
    EXACT-scope synonyms (+ the canonical name); ALL keeps every scope.

    ``min_variant_len``: variants shorter than 3 characters are excluded,
    matching the reference's dictionary builder (OboToDictionary in the
    public UCDenver-ccp ccp-nlp library, wired at
    ``ConceptMapperDictionaryFileFactory.java:280-283``) — two-letter
    acronym synonyms like DOID:768 "RB" otherwise match author initials
    (the calibrated DOID precision gap in tests/test_parity.py)."""
    if modifier is None:
        modifier = MODIFIERS_BY_NAMESPACE.get(ontology)
    rows: list[dict] = []
    for t in terms:
        if t.is_obsolete or not t.name:
            continue
        variants: list[tuple[str, str]] = [(t.name, "EXACT")]
        for text, scope in t.synonyms:
            variants.append((text, scope))
        if modifier is not None:
            mod = modifier(t.id, t.name, variants)
            if mod is None:
                continue
            _, _, variants = mod
        seen: set[str] = set()
        for text, scope in variants:
            if config.synonym_type == SYN_EXACT_ONLY and scope != "EXACT":
                continue
            if not text or text in seen or len(text) < min_variant_len:
                continue
            seen.add(text)
            rows.append(
                {
                    "ontology": ontology,
                    "concept_id": t.id,
                    "canonical": t.name,
                    "variant": text,
                    "is_official": scope == "EXACT",
                    "variant_norm": normalize_variant(config, text),
                }
            )
    return rows


def subtree_closure(terms: Iterable[Term], roots: set[str]) -> set[str]:
    """All concept ids reachable from *roots* via reversed ``is_a`` edges —
    used by the GO-subtree removal filter
    (``CraftRunGenericComparison.java:74-77,164-193``)."""
    children: dict[str, list[str]] = {}
    for t in terms:
        for parent in t.is_a:
            children.setdefault(parent, []).append(t.id)
    out: set[str] = set()
    stack = list(roots)
    while stack:
        node = stack.pop()
        if node in out:
            continue
        out.add(node)
        stack.extend(children.get(node, ()))
    return out


def concept_uri(concept_id: str) -> str:
    """OBO PURL for a concept id, ``CL:0000540`` →
    ``http://purl.obolibrary.org/obo/CL_0000540``
    (``MaylaPostProcessingComponent.java:109-110``). Ids that are already
    IRIs pass through verbatim (``PmcOaDocumentSectionUriFactory.java:22-32``)."""
    if concept_id.startswith("http://") or concept_id.startswith("https://"):
        return concept_id
    return OBO_URI_PREFIX + concept_id.replace(":", "_")


# ---------------------------------------------------------------------------
# XML dictionary codec — parity with the ConceptMapper dictionary format
# (fixture ``cmDict-Eval_condition1_hplr.xml``:
#  <synonym><token id="…" canonical="…"><variant base="…"/></token></synonym>)
# ---------------------------------------------------------------------------

def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def write_dictionary_xml(rows: list[dict], path: str) -> None:
    """Serialize dictionary rows to the ConceptMapper XML format, one
    ``<token>`` per concept with one ``<variant>`` per synonym."""
    by_id: dict[str, tuple[str, list[str]]] = {}
    order: list[str] = []
    for r in rows:
        cid = r["concept_id"]
        if cid not in by_id:
            by_id[cid] = (r["canonical"], [])
            order.append(cid)
        by_id[cid][1].append(r["variant"])
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8" ?>\n<synonym>\n')
        for cid in order:
            canonical, variants = by_id[cid]
            f.write(
                f'<token id="{_xml_escape(concept_uri(cid))}"'
                f' canonical="{_xml_escape(canonical)}">\n'
            )
            for v in variants:
                f.write(f'\t<variant base="{_xml_escape(v)}"/>\n')
            f.write("</token>\n")
        f.write("</synonym>\n")


def read_dictionary_xml(path: str) -> dict[str, str]:
    """concept-URI → canonical label map, as consumed by the Mayla
    disambiguation filter (``MaylaPostProcessingComponent.java:127-149``)."""
    import xml.etree.ElementTree as ET

    out: dict[str, str] = {}
    for _, elem in ET.iterparse(path):
        if elem.tag == "token":
            out[elem.get("id", "")] = elem.get("canonical", "")
            elem.clear()
    return out
