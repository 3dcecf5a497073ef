"""Surrogate cascade unit tests (pair enumeration, ranking determinism,
hard filter, classifier) — SURVEY.md §5.2 item 1."""

from kgforge.core.model import get_model
from kgforge.core.surrogate import (
    classify_relation,
    detect_mentions,
    extract_triples,
    rank_pairs,
    score_pair,
    tokenize,
)
from kgforge.core.vocab import GENERIC_ID, NUM_ENT_TYPES, build_lexicon

REPOS = get_model("repos")
DOCS = get_model("docs")


def test_lexicon_deterministic():
    a = build_lexicon()
    b = build_lexicon()
    assert a == b and len(a) == 500
    groups = {g for _, _, g in a}
    assert len(groups) < 500  # near-dup variants share groups


def test_detect_mentions_greedy_longest_match():
    # pick a multi-token lexicon term and embed it
    term = next(t for t, _, _ in build_lexicon() if len(t) == 2)
    toks = ["the", *term, "overall", "."]
    ments = detect_mentions(toks, REPOS)
    assert (1, 1 + len(term)) in {(s, e) for s, e, _ in ments}


def test_pair_enumeration_cardinality_no_type_filter():
    # n mentions, all same non-Generic type, no pattern gaps ->
    # pairs surviving threshold <= n^2 - n (J1 bound); with the noise
    # scorer most survive
    toks = "alpha beta gamma delta".split()
    ments = [(i, i + 1, 0) for i in range(4)]
    pairs = rank_pairs(toks, ments, REPOS)
    assert len(pairs) <= 4 * 3
    # ordering is a total order: re-running gives identical list
    assert pairs == rank_pairs(toks, ments, REPOS)


def test_hard_type_filter_blocks_generic_generic():
    toks = "x and y".split()
    ments = [(0, 1, GENERIC_ID), (2, 3, GENERIC_ID)]
    assert rank_pairs(toks, ments, REPOS) == []


def test_pattern_scores_dominate_noise():
    toks = "x is used for y".split()
    sub, obj = (0, 1, 0), (4, 5, 1)
    assert score_pair(toks, sub, obj, REPOS) >= 0.6
    assert score_pair(toks, obj, sub, REPOS) < 0.4  # reversed: no pattern


def test_classifier_na_and_direction():
    toks = "x is used for y".split()
    sub, obj = (0, 1, 0), (4, 5, 1)
    rel, _ = classify_relation(toks, sub, obj, REPOS)
    assert rel == 1  # USED-FOR + 1
    rel_rev, _ = classify_relation(toks, obj, sub, REPOS)
    assert rel_rev == 0  # NA


def test_extract_triples_dedup():
    term_a = next(t for t, ty, _ in build_lexicon() if len(t) == 1 and ty != GENERIC_ID)
    toks = [*term_a, "and", *term_a, "."]
    trips = extract_triples(toks, REPOS)
    # (a CONJUNCTION a) appears once even though pair scoring sees it once
    assert len(trips) == len(set(trips))


def test_docs_model_single_token_semantics():
    toks = tokenize("key fast value the table")
    trips = extract_triples(toks, DOCS)
    got = {(t[0], t[1], t[2]) for t in trips}
    assert ("key", "value", 0) in got  # USED-FOR
    assert ("value", "table", 2) in got  # HYPONYM-OF via 'the'


def test_mention_cap_applies():
    toks = "key " * 200
    ments = detect_mentions(tokenize(toks), REPOS)
    assert len(ments) <= REPOS.max_mentions


def test_tag_encoding_range():
    toks = tokenize("key fast value")
    from kgforge.core.surrogate import tag_tokens

    tags = tag_tokens(toks, DOCS)
    assert all(0 <= t <= 2 * NUM_ENT_TYPES for t in tags)


def _reference_triples(toks, mentions, model):
    """The cascade as the reference writes it (theta.py:528-536): every
    ranked pair is classified, NA dropped, first score kept per text key."""
    out = {}
    for sub, obj, _s in rank_pairs(toks, mentions, model):
        rel_plus1, score = classify_relation(toks, sub, obj, model)
        if rel_plus1 == 0:
            continue
        key = (
            " ".join(toks[sub[0] : sub[1]]),
            " ".join(toks[obj[0] : obj[1]]),
            rel_plus1 - 1, sub[2], obj[2],
        )
        out.setdefault(key, score)
    return sorted((*k, v) for k, v in out.items())


def _fixture_units():
    from kgforge.extract.units import extract_units_text
    from kgforge.fixtures import gen_repo_rows

    for r in gen_repo_rows(60):
        yield [text for _, _, text in extract_units_text(r["content"], r["lang"])]


# a file whose pattern pairs are enumerated AFTER noise pairs, so a top-1
# cut keeps the right pair only if it ranks first (the repos fixtures
# always enumerate their pattern pair first)
_PLANTED = [["value table key fast value", "table value the key fast value"]]


def _cases():
    for model in (REPOS, get_model("repos@k=1")):
        for units in _fixture_units():
            yield model, units
    for units in _PLANTED:
        yield get_model("docs@k=1"), units


def test_extract_triples_default_mentions_are_detected():
    for model, units in _cases():
        for text in units:
            t = tokenize(text)
            assert extract_triples(t, model) == extract_triples(
                t, model, detect_mentions(t, model)
            )


def test_mention_fed_extract_triples_matches_reference_loop():
    """Context windows (k in {1, 2}) feed in-unit mentions in widened-token
    space; with top-k truncating (k=1) the shared loop's pair selection
    must still equal rank_pairs -> classify_relation."""
    n_triples = 0
    for model, units in _cases():
        for i, text in enumerate(units):
            for k in (1, 2):
                left = units[max(0, i - k) : i]
                ctx = tokenize(" ".join(left + units[i : i + k + 1]))
                lo = sum(len(tokenize(u)) for u in left)
                hi = lo + len(tokenize(text))
                ments = [
                    m for m in detect_mentions(ctx, model)
                    if lo <= m[0] and m[1] <= hi
                ]
                got = extract_triples(ctx, model, ments)
                assert got == _reference_triples(ctx, ments, model)
                n_triples += len(got)
    assert n_triples > 0
