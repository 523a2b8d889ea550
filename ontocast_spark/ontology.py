"""Ontology term index — the broadcastable gazetteer the extraction and
selection stages score against.

The reference loads small Turtle ontologies (two fixture domains of ~80
and ~160 lines: a financial-securities ontology ``fsec`` and a criminal
ontology, /root/reference/tool/triple_manager/filesystem_manager.py:60-85)
and hands them to the LLM stages. Here the ontologies are flattened to a
term table::

    (ontology_id, iri, term_iri, kind, label, comment, domain, range, datatype)

which is tiny (hundreds of rows), so it is broadcast to every executor
(``sparkContext.broadcast``) and consulted inside Arrow-batched pandas
UDFs — the Spark analog of the reference's in-process ontology cache
(/root/reference/ontocast/toolbox.py:118-144).

Two built-in domains ship for tests/bench (finance ``fin``, criminal-law
``crm``), shaped like the reference fixtures: classes + object/datatype
properties with labels, domains, ranges. Users add domains by
constructing :class:`OntologyIndex` from their own term table.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .kernels.rdfterms import XSD_DATE, XSD_DECIMAL


@dataclass(frozen=True)
class OntologyTerm:
    ontology_id: str
    iri: str  # ontology namespace iri, e.g. https://example.com/fin#
    term_iri: str
    kind: str  # "class" | "property"
    label: str
    comment: str | None = None
    domain: str | None = None
    range: str | None = None
    datatype: str | None = None  # for literal-valued properties


_TOKEN_RE = re.compile(r"[a-z0-9]+")


def _tokens(text: str) -> set[str]:
    return set(_TOKEN_RE.findall(text.lower()))


# select_ontology: fewest shared tokens for a chunk to pick an ontology
MIN_ONTOLOGY_OVERLAP = 2


@dataclass
class OntologyIndex:
    """Flattened, phrase-indexed view over one or more ontologies."""

    terms: list[OntologyTerm] = field(default_factory=list)

    def __post_init__(self):
        self.class_by_phrase: dict[str, OntologyTerm] = {}
        self.prop_by_phrase: dict[str, OntologyTerm] = {}
        self.by_iri: dict[str, OntologyTerm] = {}
        self.ontologies: dict[str, str] = {}  # ontology_id -> iri
        self._onto_tokens: dict[str, set[str]] = {}
        for t in self.terms:
            self.by_iri[t.term_iri] = t
            self.ontologies.setdefault(t.ontology_id, t.iri)
            bucket = self.class_by_phrase if t.kind == "class" else self.prop_by_phrase
            bucket[t.label.lower()] = t
            self._onto_tokens.setdefault(t.ontology_id, set()).update(
                _tokens(t.label) | _tokens(t.comment or "")
            )
        # property phrases sorted longest-first for greedy matching
        self.prop_phrases: list[str] = sorted(
            self.prop_by_phrase, key=len, reverse=True
        )

    def select_ontology(self, excerpt: str) -> str | None:
        """Entity-link scoring replacement of the reference's LLM
        ontology selection (/root/reference/ontocast/agent/
        select_ontology.py:26-82): token-overlap argmax over the first
        1000 chars, null fallback below ``MIN_ONTOLOGY_OVERLAP`` shared
        tokens.

        Ties break on ontology_id sort order for determinism.
        """
        toks = _tokens(excerpt[:1000])
        best_id, best_score = None, 0
        for oid in sorted(self._onto_tokens):
            score = len(toks & self._onto_tokens[oid])
            if score > best_score:
                best_id, best_score = oid, score
        return best_id if best_score >= MIN_ONTOLOGY_OVERLAP else None

    def rows(self) -> list[tuple]:
        """Term table rows for a DataFrame
        (ontology_id, iri, term_iri, kind, label, comment, domain, range, datatype)."""
        return [
            (t.ontology_id, t.iri, t.term_iri, t.kind, t.label, t.comment,
             t.domain, t.range, t.datatype)
            for t in self.terms
        ]


def _mk(oid: str, ns: str, kind: str, local: str, label: str, *,
        comment: str | None = None, domain: str | None = None,
        rng: str | None = None, datatype: str | None = None) -> OntologyTerm:
    return OntologyTerm(
        ontology_id=oid, iri=ns, term_iri=ns + local, kind=kind, label=label,
        comment=comment, domain=domain, range=rng, datatype=datatype,
    )


def builtin_ontology_index() -> OntologyIndex:
    """Two small built-in domains for tests and bench (deterministic)."""
    fin_ns = "https://example.com/fin#"
    crm_ns = "https://example.com/crm#"
    terms: list[OntologyTerm] = []

    def fin(kind, local, label, **kw):
        terms.append(_mk("fin", fin_ns, kind, local, label, **kw))

    def crm(kind, local, label, **kw):
        terms.append(_mk("crm", crm_ns, kind, local, label, **kw))

    fin("class", "Organization", "organization",
        comment="a company, corporation or firm issuing securities")
    fin("class", "Person", "person", comment="an individual person")
    fin("class", "Security", "security",
        comment="a tradable financial instrument such as a share or bond")
    fin("class", "Revenue", "revenue", comment="income from business operations")
    fin("class", "Report", "report", comment="a quarterly or annual filing")
    fin("class", "Market", "market", comment="an exchange where securities trade")
    fin("property", "worksAt", "works at",
        domain=fin_ns + "Person", rng=fin_ns + "Organization")
    fin("property", "employs", "employs",
        domain=fin_ns + "Organization", rng=fin_ns + "Person")
    fin("property", "acquired", "acquired",
        domain=fin_ns + "Organization", rng=fin_ns + "Organization")
    fin("property", "investsIn", "invests in",
        domain=fin_ns + "Organization", rng=fin_ns + "Organization")
    fin("property", "issued", "issued",
        domain=fin_ns + "Organization", rng=fin_ns + "Security")
    fin("property", "hasRevenue", "reported revenue of",
        domain=fin_ns + "Organization", datatype=XSD_DECIMAL)
    fin("property", "hasShares", "holds shares of",
        domain=fin_ns + "Person", rng=fin_ns + "Security")
    fin("property", "filedOn", "filed on",
        domain=fin_ns + "Report", datatype=XSD_DATE)
    fin("property", "ceoOf", "is the ceo of",
        domain=fin_ns + "Person", rng=fin_ns + "Organization")

    crm("class", "Suspect", "suspect",
        comment="a person suspected of a criminal offence")
    crm("class", "Offence", "offence", comment="a criminal offence or felony charge")
    crm("class", "Court", "court", comment="a court of law hearing criminal cases")
    crm("class", "Evidence", "evidence",
        comment="evidence exhibit presented to the court")
    crm("class", "Victim", "victim", comment="the victim of an offence")
    crm("property", "chargedWith", "charged with",
        domain=crm_ns + "Suspect", rng=crm_ns + "Offence")
    crm("property", "convictedOf", "convicted of",
        domain=crm_ns + "Suspect", rng=crm_ns + "Offence")
    crm("property", "triedAt", "tried at",
        domain=crm_ns + "Suspect", rng=crm_ns + "Court")
    crm("property", "testifiedAgainst", "testified against",
        domain=crm_ns + "Person", rng=crm_ns + "Suspect")
    crm("property", "sentencedOn", "sentenced on",
        domain=crm_ns + "Suspect", datatype=XSD_DATE)

    return OntologyIndex(terms=terms)
