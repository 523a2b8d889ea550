"""Native (C) entity grouping against the Python loop it replaces.

``aggregate._find_similar_entities_py`` is the reference: the native
``find_similar_entities`` must return the same groups, list for list, on
random documents and on the cases where the two could drift (the DP path
for long labels, labels whose length changes when lowered, missing and
empty labels, duplicate local names, more than 64 types, scores exactly
on a threshold). No Spark session.
"""

import logging
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ontocast_spark.kernels import aggregate
from ontocast_spark.kernels.aggregate import EntityMetadata
from ontocast_spark.kernels.native import load_group_entities

NATIVE_LOG = "ontocast_spark.kernels.native"


@pytest.fixture(autouse=True)
def native_loaded():
    assert aggregate._group_entities is not None, "native grouping failed to load"


def check_parity(entities, entity_types):
    native = aggregate.find_similar_entities(entities, entity_types)
    reference = aggregate._find_similar_entities_py(entities, entity_types)
    assert native == reference
    return native


def ent(local_name, label=None):
    return EntityMetadata(local_name, label=label)


# small alphabets so random labels are often near-duplicates; 'İ' and
# 'ẞ' lengthen on .lower(), 'ß' is already lower, 'Σ' lowers by context
label_chars = st.sampled_from(list("aabbcde XY") + ["İ", "ß", "ẞ", "Σ", "ς", "é", "😀"])
labels = st.one_of(
    st.none(),
    st.just(""),
    st.text(label_chars, min_size=1, max_size=12),
    st.text(label_chars, min_size=60, max_size=90),  # around the 64 cut
)
local_names = st.sampled_from(["acme", "Acme", "bank", "x", "y", "z", "İ", "i̇"])
type_sets = st.one_of(
    st.none(),
    st.just(set()),
    st.sets(st.integers(0, 99).map(lambda k: f"http://t/{k}"), max_size=4),
)


@st.composite
def near_copy(draw, base):
    """``base`` with a few single-character edits, so pairs score near the
    85 and 90 thresholds."""
    chars = list(base)
    for _ in range(draw(st.integers(0, 6))):
        pos = draw(st.integers(0, len(chars)))
        op = draw(st.sampled_from(["insert", "delete", "replace"]))
        if op == "insert" or pos == len(chars):
            chars.insert(pos, draw(label_chars))
        elif op == "delete":
            del chars[pos]
        else:
            chars[pos] = draw(label_chars)
    return "".join(chars)


@st.composite
def documents(draw):
    n = draw(st.integers(0, 30))
    # bases of 1-90 code points, so copies straddle the 64-code-point cut
    bases = draw(st.lists(st.text(label_chars, min_size=1, max_size=90),
                          min_size=1, max_size=3))
    entities, entity_types = {}, {}
    for i in range(n):
        if draw(st.booleans()):
            label = draw(labels)
        else:
            label = draw(near_copy(draw(st.sampled_from(bases))))
        entities[f"http://d/e{i}"] = ent(draw(local_names) + str(draw(st.integers(0, 3))),
                                         label)
        ts = draw(type_sets)
        if ts is not None:
            entity_types[f"http://d/e{i}"] = ts
    return entities, entity_types


@given(documents())
@settings(max_examples=400, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_random_documents_group_identically(doc):
    check_parity(*doc)


def test_long_labels_take_the_dp_path():
    base = "the international consolidated holding company of acme banking group"
    assert len(base) > 64
    entities = {
        "e0": ent("a", base),
        "e1": ent("b", base.replace("acme", "acne")),      # both > 64: DP
        "e2": ent("c", base[:60]),                          # > 64 vs <= 64
        "e3": ent("d", base + " and partners"),
        "e4": ent("e", "x" * 200),
        "e5": ent("f", "x" * 190 + "y" * 10),
    }
    assert check_parity(entities, {})


def test_labels_at_the_64_code_point_cut():
    """63, 64 and 65 code points: the last bit of the 64-bit word, and the
    first length that needs the DP."""
    s64 = "".join(chr(ord("a") + (i * 7) % 26) for i in range(63)) + "0"
    variants = [s64, s64[:63], s64 + "1", s64[1:], "0" + s64[1:], s64[:60] + "0123",
                s64[:55] + "0" * 9, s64[:54] + "1" * 11, "9" + s64[:63]]
    assert {len(v) for v in variants} == {63, 64, 65}
    for i, a in enumerate(variants):
        for b in variants[i + 1:]:
            check_parity({"e0": ent("a", a), "e1": ent("b", b)}, {})
    check_parity({f"e{i}": ent(f"n{i}", v) for i, v in enumerate(variants)}, {})


def test_labels_that_change_length_when_lowered():
    entities = {
        "e0": ent("a", "acme " + "İ" * 20),    # lowers to 45 code points
        "e1": ent("b", "acme " + "i̇" * 20),
        "e2": ent("c", "STRASSE"),
        "e3": ent("d", "straße"),
        "e4": ent("e", "ẞtrasse"),
        "e5": ent("f", "ΣΟΦΟΣ"),
        "e6": ent("g", "σοφος"),
    }
    groups = check_parity(entities, {})
    assert ["e0", "e1"] in groups


def test_missing_and_empty_labels_and_duplicate_local_names():
    entities = {
        "e0": ent("Acme", None),
        "e1": ent("acme", ""),
        "e2": ent("ACME", "Acme Corp"),
        "e3": ent("other", None),
        "e4": ent("another", ""),
        "e5": ent("third", "Acme Corp"),
    }
    # e5 shares e2's label, but e0 leads and has none to compare
    assert check_parity(entities, {}) == [["e0", "e1", "e2"]]


def test_more_than_64_types_and_mixed_typing():
    entities = {f"e{i}": ent(f"n{i}", f"acme label {i % 5}") for i in range(90)}
    # 71 distinct types, so two 64-bit words: e0..e69 each have a type of
    # their own (no two may merge), e70..e79 also share one whose bit is in
    # the second word, e80..e89 are untyped and pass every type gate
    entity_types = {f"e{i}": {f"t{i}"} for i in range(70)}
    entity_types.update({f"e{i}": {f"t{i}", "late"} for i in range(70, 80)})
    assert len(set().union(*entity_types.values())) > 64
    assert check_parity(entities, entity_types) == [
        ["e0"] + [f"e{i}" for i in range(80, 90)],
        [f"e{i}" for i in range(70, 80)],
    ]


a20 = "abcdefghijklmnopqrst"


@pytest.mark.parametrize("label_a,label_b,untyped,typed", [
    (a20, a20[:17] + "012", True, False),          # lcs 17 of 40: ratio 85.0
    (a20, a20[:18] + "01", True, True),            # lcs 18 of 40: ratio 90.0
    (a20, a20[:16] + "0123", False, False),        # ratio 80.0
    (a20[:17], a20[:17] + "012345", True, False),  # 17 vs 23: bound and ratio 85.0
    (a20[:18], a20[:18] + "0123", True, True),     # 18 vs 22: bound and ratio 90.0
    (a20[:17], a20[:17] + "0123456", False, False),  # 17 vs 24: under the bound
])
def test_scores_exactly_on_the_thresholds(label_a, label_b, untyped, typed):
    entities = {"e0": ent("a", label_a), "e1": ent("b", label_b)}
    shared = {"e0": {"http://t/x"}, "e1": {"http://t/x", "http://t/y"}}
    assert (check_parity(entities, {}) != []) == untyped
    # shared types raise the bar from 85 to 90
    assert (check_parity(entities, shared) != []) == typed


def test_fallback_when_the_library_cannot_be_built(tmp_path, monkeypatch, caplog):
    """No compiler or no writable cache directory: loading returns None,
    logs once which implementation is active, and the module's Python
    path gives the same groups."""
    entities = {f"e{i}": ent(f"n{i % 4}", ["Acme Corp", "acme corp.", "Bank", None][i % 4])
                for i in range(12)}
    expected = aggregate.find_similar_entities(entities, {})

    caplog.set_level(logging.INFO, logger=NATIVE_LOG)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "missing"))
    assert load_group_entities() is None
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setenv("PATH", "")
    assert load_group_entities() is None
    records = [r for r in caplog.records if r.name == NATIVE_LOG]
    assert len(records) == 2
    assert all("Python loop" in r.getMessage() for r in records)
    assert list(tmp_path.iterdir()) == []  # no partial files left behind

    monkeypatch.setattr(aggregate, "_group_entities", None)
    assert aggregate.find_similar_entities(entities, {}) == expected


def test_build_is_cached_and_logged(tmp_path, monkeypatch, caplog):
    """The first load compiles into the cache directory; a later one only
    loads the cached library (it needs no compiler)."""
    caplog.set_level(logging.INFO, logger=NATIVE_LOG)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert load_group_entities() is not None
    built = list(tmp_path.iterdir())
    assert len(built) == 1 and built[0].suffix == ".so"
    monkeypatch.setenv("PATH", "")
    assert load_group_entities() is not None
    assert list(tmp_path.iterdir()) == built
    records = [r for r in caplog.records if r.name == NATIVE_LOG]
    assert [r.getMessage().startswith("entity grouping: native") for r in records] \
        == [True, True]
