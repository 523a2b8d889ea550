"""Deterministic ontology-constrained triple extraction (kernel v1).

The reference's extraction stages are LLM calls with a fixed I/O
contract: chunk text + selected ontology in, Turtle triples out, with
facts minted in the chunk namespace ``cd:`` and entities/predicates
constrained to ontology terms where possible
(/root/reference/ontocast/agent/render_facts.py:25-98 and
/root/reference/ontocast/prompt/render_facts.py:10-35 — requested
literal typing ``xsd:integer/decimal/date``;
/root/reference/ontocast/agent/render_ontology_triples.py:28-114 for
the ontology addendum). This kernel replaces the LLM with a *frozen,
versioned, pure* function with the same I/O contract:

input:  chunk text, chunk namespace, broadcast :class:`OntologyIndex`
output: list of (s, p, o, o_is_literal, o_datatype) triples where

- mention detection: capitalized token sequences, stopword-trimmed;
  each mention becomes a chunk-namespace entity with an ``rdfs:label``;
- entity typing: gazetteer match of the mention (full phrase, then head
  token) against ontology class labels -> ``rdf:type`` triple;
- relations: for consecutive mention pairs in a sentence, the connecting
  text is matched longest-phrase-first against ontology property labels
  (-> ontology-term predicate), else a chunk-namespace predicate is
  minted from the connecting tokens with an ``rdfs:label``;
- numeric/date literals: money/percent/number and ISO dates following a
  datatype-property phrase attach to the nearest preceding mention as
  typed literals (``xsd:decimal/integer/date``);
- ontology addendum: every ontology term actually used is re-declared
  (``owl:Class`` / ``rdf:Property`` + label + domain/range) in the
  ontology namespace — these rows are split out by the sublimation
  filter exactly like the reference's SPARQL split.

Determinism is the point: same text + same ontology -> same triples,
bit-stable across processes and reruns (EXTRACTOR_VERSION guards
fixtures). Everything here is per-chunk local, so it runs inside the
fused ``mapInArrow`` task (``kernels/construct.py``).
"""

from __future__ import annotations

import re

from ..ontology import OntologyIndex
from .rdfterms import (
    OWL_CLASS,
    RDF_PROPERTY,
    RDF_TYPE,
    RDFS_COMMENT,
    RDFS_DOMAIN,
    RDFS_LABEL,
    RDFS_RANGE,
    XSD_DATE,
    XSD_DECIMAL,
    XSD_INTEGER,
    clean_local_name,
)

EXTRACTOR_VERSION = 2  # v2: unicode-aware mention detection

SENT_SPLIT_RE = re.compile(r"(?<=[.?!])\s+")
_WORDTOK_RE = re.compile(r"[\w&.'-]+", re.UNICODE)
NUMBER_RE = re.compile(r"(\$\s?\d[\d,]*(?:\.\d+)?|\d[\d,]*(?:\.\d+)?\s?%|\b\d[\d,]*(?:\.\d+)?\b)")
DATE_RE = re.compile(r"\b(\d{4}-\d{2}-\d{2})\b")
_WORD_RE = re.compile(r"[a-z]+")

# Sentence-position words that capitalize without naming an entity.
STOP_TOKENS = frozenset(
    """the a an this that these those it he she they we i you in on at for and
    but or if when then as by from to of with after before during per our their
    his her its is are was were be been has have had will would can could may
    might should must not no yes so such there here what which who whom whose
    how why all any each every some most more less new also only just very
    please thanks thank hello hi okay ok let ceo""".split()
)


_KEEP_DOT = frozenset({"inc.", "co.", "ltd.", "corp.", "jr.", "sr."})


def _trim_mention(mention: str) -> str:
    tokens = mention.split()
    while tokens and tokens[0].lower() in STOP_TOKENS:
        tokens = tokens[1:]
    while tokens and tokens[-1].lower() in STOP_TOKENS:
        tokens = tokens[:-1]
    if tokens:
        last = tokens[-1]
        # strip a sentence-final period unless it's an abbreviation
        # ("Inc.") or a single-initial ("D." as in "John D.")
        if last.endswith(".") and last.lower() not in _KEEP_DOT and len(last) > 2:
            tokens[-1] = last.rstrip(".")
    if len(tokens) == 1 and len(tokens[0].rstrip(".")) == 1:
        return ""  # lone initial is noise, not an entity
    return " ".join(tokens)


def _find_mentions(sentence: str):
    """Capitalized-token runs: consecutive tokens (whitespace-separated
    only) whose first character is an uppercase letter. Unicode-aware
    ("Müller", "Ünïcode"); yields (phrase, start, end)."""
    runs: list[list[tuple[str, int, int]]] = []
    cur: list[tuple[str, int, int]] = []
    for m in _WORDTOK_RE.finditer(sentence):
        tok = m.group(0)
        if tok[0].isupper():
            if cur and sentence[cur[-1][2]:m.start()].strip() == "":
                cur.append((tok, m.start(), m.end()))
            else:
                if cur:
                    runs.append(cur)
                cur = [(tok, m.start(), m.end())]
        else:
            if cur:
                runs.append(cur)
                cur = []
    if cur:
        runs.append(cur)
    for run in runs:
        yield " ".join(t for t, _, _ in run), run[0][1], run[-1][2]


def _slug(phrase: str) -> str:
    return clean_local_name(phrase.lower().replace(" ", "_"))


def _number_literal(raw: str) -> tuple[str, str]:
    """Normalize a money/percent/number token to (lexical, xsd type)."""
    cleaned = raw.replace("$", "").replace(",", "").replace("%", "").strip()
    if "." in cleaned or "$" in raw or "%" in raw:
        return cleaned, XSD_DECIMAL
    return cleaned, XSD_INTEGER


# Sentence-level memo (pure speedup, identical output): a sentence's
# extraction depends ONLY on (sentence text, ontology, ontology_id) —
# the chunk namespace appears solely as a prefix on minted IRIs. Real
# transcripts repeat sentences heavily (greetings, boilerplate, tool
# banners; the synthetic bench corpus repeats ~75% of sentence
# instances), so results are cached per worker in a NAMESPACE-FREE
# template form — minted terms as ("cd", suffix) tuples — and
# instantiated with the chunk namespace on retrieval. Bounded so a
# long-lived executor cannot grow the cache without limit; keyed per
# OntologyIndex instance (the broadcast value is one object per
# worker), so a different ontology or ontology_id never cross-hits.
_SENT_CACHE_MAX = 1 << 15


def _ordered_props(ontology: OntologyIndex):
    """(object_props, datatype_props) in prop_phrases (longest-first)
    order, computed once per index — the per-sentence loops previously
    re-filtered every phrase."""
    cached = getattr(ontology, "_split_props", None)
    if cached is None:
        obj_props, dt_props = [], []
        for phrase in ontology.prop_phrases:
            t = ontology.prop_by_phrase[phrase]
            (dt_props if t.datatype is not None else obj_props).append(
                (phrase, t)
            )
        cached = (obj_props, dt_props)
        ontology._split_props = cached
    return cached


def _extract_sentence(
    sentence: str, ontology: OntologyIndex, ontology_id: str | None
):
    """One sentence -> (template triples, used term IRIs); minted
    chunk-namespace terms are ("cd", suffix) tuples. Memoized."""
    cache = getattr(ontology, "_sent_cache", None)
    if cache is None:
        cache = {}
        ontology._sent_cache = cache
    # long sentences rarely repeat and their raw text is the cache KEY —
    # skip caching them so a pathological corpus can't turn the bounded
    # entry count into gigabytes of key strings per worker
    cacheable = len(sentence) <= 2000
    key = (ontology_id, sentence)
    if cacheable:
        hit = cache.get(key)
        if hit is not None:
            return hit

    triples: set[tuple] = set()
    used_terms: set[str] = set()

    def add(s, p, o, lit=False, dt=None):
        triples.add((s, p, o, bool(lit), dt))

    obj_props, dt_props = _ordered_props(ontology)

    mentions: list[tuple[str, int, int, tuple]] = []  # (phrase, start, end, term)
    for raw_phrase, m_start, m_end in _find_mentions(sentence):
        phrase = _trim_mention(raw_phrase)
        if not phrase or len(phrase) < 2:
            continue
        iri = ("cd", _slug(phrase))
        mentions.append((phrase, m_start, m_end, iri))
        add(iri, RDFS_LABEL, phrase, lit=True)
        term = ontology.class_by_phrase.get(phrase.lower())
        if term is None:
            term = ontology.class_by_phrase.get(phrase.split()[-1].lower())
        if term is None and phrase.split()[-1].lower() in (
            "corp", "corporation", "inc.", "inc", "ltd", "llc", "gmbh", "co."
        ):
            term = ontology.class_by_phrase.get("organization")
        if term is not None and (
            ontology_id is None or term.ontology_id == ontology_id
        ):
            add(iri, RDF_TYPE, term.term_iri)
            used_terms.add(term.term_iri)

    # relations between consecutive mentions
    for (p1, s1, e1, iri1), (p2, s2, e2, iri2) in zip(mentions, mentions[1:]):
        inter = sentence[e1:s2]
        inter_l = inter.lower()
        prop = None
        for phrase, t in obj_props:
            if phrase in inter_l and (
                ontology_id is None or t.ontology_id == ontology_id
            ):
                prop = t
                break
        if prop is not None:
            add(iri1, prop.term_iri, iri2)
            used_terms.add(prop.term_iri)
            continue
        tokens = [t for t in _WORD_RE.findall(inter_l) if t not in STOP_TOKENS]
        if 1 <= len(tokens) <= 3:
            pred = ("cd", "_".join(tokens))
            add(iri1, pred, iri2)
            add(pred, RDFS_LABEL, " ".join(tokens), lit=True)

    # typed literals: value after a datatype-property phrase attaches
    # to the nearest preceding mention
    sent_l = sentence.lower()
    for phrase, t in dt_props:
        if ontology_id is not None and t.ontology_id != ontology_id:
            continue
        pos = sent_l.find(phrase)
        if pos < 0:
            continue
        subject = None
        for p_, s_, e_, iri_ in mentions:
            if e_ <= pos + len(phrase):
                subject = iri_
        if subject is None:
            continue
        tail = sentence[pos + len(phrase):]
        if t.datatype == XSD_DATE:
            dm = DATE_RE.search(tail)
            if dm:
                add(subject, t.term_iri, dm.group(1), lit=True, dt=XSD_DATE)
                used_terms.add(t.term_iri)
        else:
            nm = NUMBER_RE.search(tail)
            if nm:
                lex, dt = _number_literal(nm.group(0))
                add(subject, t.term_iri, lex, lit=True, dt=dt)
                used_terms.add(t.term_iri)

    result = (frozenset(triples), frozenset(used_terms))
    if cacheable and len(cache) < _SENT_CACHE_MAX:
        cache[key] = result
    return result


def extract_chunk_triples(
    text: str, chunk_ns: str, ontology: OntologyIndex, ontology_id: str | None = None
) -> list[tuple]:
    """Extract (s, p, o, o_is_literal, o_datatype) triples for one chunk."""
    triples: set[tuple] = set()
    used_terms: set[str] = set()

    def add(s, p, o, lit=False, dt=None):
        triples.add((s, p, o, bool(lit), dt))

    for sentence in SENT_SPLIT_RE.split(text):
        if not sentence.strip():
            continue
        tmpl, used = _extract_sentence(sentence, ontology, ontology_id)
        used_terms.update(used)
        for s, p, o, lit, dt in tmpl:
            triples.add((
                chunk_ns + s[1] if type(s) is tuple else s,
                chunk_ns + p[1] if type(p) is tuple else p,
                chunk_ns + o[1] if type(o) is tuple else o,
                lit, dt,
            ))

    # ontology addendum for used terms (non-chunk-namespace rows; the
    # sublimation filter routes them to the ontology side)
    for term_iri in sorted(used_terms):
        t = ontology.by_iri[term_iri]
        if t.kind == "class":
            add(t.term_iri, RDF_TYPE, OWL_CLASS)
        else:
            add(t.term_iri, RDF_TYPE, RDF_PROPERTY)
            if t.domain:
                add(t.term_iri, RDFS_DOMAIN, t.domain)
            if t.range:
                add(t.term_iri, RDFS_RANGE, t.range)
        add(t.term_iri, RDFS_LABEL, t.label, lit=True)
        if t.comment:
            add(t.term_iri, RDFS_COMMENT, t.comment, lit=True)

    return sorted(triples)
