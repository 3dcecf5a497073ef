"""The deterministic surrogate model: tagger (M1+M2), pair filter (M3),
relation classifier (M4).

Mirrors the reference's three-stage dataflow (SURVEY.md §2.9):
  M1+M2  encode + BIO tag + span decode   (models/ner_model.py:269-323)
  M3     O(n^2) pair scoring + hard type filter + score-ordered ranking
         (models/entity_pair_filter.py:138-423)
  M4     relation classification per surviving pair, NA-drop, set-dedup
         (models/re_model.py:165-851; models/theta.py:523-556)

Everything here is pure python over token lists — the Spark pipeline calls
these inside Arrow-batched pandas UDFs; the oracle calls them in a plain
loop.  The "weights" are a ``SurrogateModel`` (core/model.py).  No
randomness: the reference's train-time shuffle/noise
(entity_pair_filter.py:366,401-412) is deliberately NOT reproduced —
inference ordering is a total order (score desc, then span key) so results
are parallelism-invariant (SURVEY.md §4.3).
"""

from __future__ import annotations

import zlib

from .bio import decode_bio, encode_bio
from .model import SurrogateModel
from .vocab import GENERIC_ID, NUM_ENT_TYPES

Mention = tuple[int, int, int]  # (start, end, ent_type), half-open


def tokenize(text: str) -> list[str]:
    """Whitespace tokenizer — the surrogate's word stage (F1/F2).  With
    ``model.tokenizer == "bpe"`` the cascade additionally runs a learned
    subword stage below this (see detect_mentions_bpe), mirroring the
    reference's learned subword vocab (data/utils.py:74-79) while all
    downstream operators stay in word space via the offset mapping."""
    return text.split()


def bpe_encode_word(word: str, merges) -> list[str]:
    """Replay a trained BPE merge list over one word — the pure-python
    twin of functions/bpe.apply_bpe's fold (same greedy left-to-right
    non-overlapping rule, one pass per merge in rank order; parity
    pinned by tests/test_bpe_mode.py).  Deterministic, lossless:
    ``"".join(result) == word``."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def detect_mentions_bpe(tokens: list[str], model: SurrogateModel) -> list[Mention]:
    """Mention detection at the SUBWORD level (the reference's actual
    grain: BIO tags live on subword tokens, ner_model.py:269-323, and
    entity spans map back to words through the tokenizer's offset
    mapping, data/utils.py:74-79):

      1. encode each (lowercased) word with the trained merges —
         per-word, so subword units never cross word boundaries;
      2. greedy longest-match the subword stream against the gazetteer
         ENCODED WITH THE SAME MERGES (model.gaz_sub), anchored at word
         starts and required to end at word ends; keys pair each symbol
         with its word-start flag, so the match's word segmentation must
         equal the term's — BPE is lossless per word, so a subword match
         is exactly a word-level match;
      3. BIO round-trip at the subword grain (encode_bio/decode_bio —
         the reference's tag transitions exercised on subword ids);
      4. map spans back to WORD indices via the alignment, so every
         downstream operator (pairs, gap patterns, offsets, oracle SQL)
         is IDENTICAL to whitespace mode.

    The word-space output equals detect_mentions() on the same input for
    ANY merge list — that invariance (the offset-mapping roundtrip) is
    what kg_mentions_bpe's oracle row pins."""
    merges = model.bpe_merges
    subtoks: list[str] = []
    word_of: list[int] = []
    word_start: list[bool] = []
    for wi, w in enumerate(tokens):
        enc = bpe_encode_word(w.lower(), merges)
        for j, s in enumerate(enc):
            subtoks.append(s)
            word_of.append(wi)
            word_start.append(j == 0)
    gaz_sub, first_sub, max_sub = model.gaz_sub
    flagged = list(zip(subtoks, word_start))
    n = len(subtoks)
    ments_sub: list[Mention] = []
    i = 0
    while i < n:
        if not word_start[i] or subtoks[i] not in first_sub:
            i += 1
            continue
        matched = False
        for ln in range(min(max_sub, n - i), 0, -1):
            e = i + ln
            # a term's encoding ends a word — enforce the boundary
            # explicitly rather than rely on injectivity
            if e < n and word_of[e] == word_of[e - 1]:
                continue
            t = gaz_sub.get(tuple(flagged[i:e]))
            if t is not None:
                ments_sub.append((i, e, t))
                i = e
                matched = True
                break
        if not matched:
            i += 1
    tags = encode_bio(n, ments_sub, NUM_ENT_TYPES)
    decoded = decode_bio(tags, NUM_ENT_TYPES)[: model.max_mentions]
    return [(word_of[s], word_of[e - 1] + 1, t) for s, e, t in decoded]


def tag_tokens(tokens: list[str], model: SurrogateModel) -> list[int]:
    """Greedy longest-match gazetteer tagging -> BIO tag ids.

    Surrogate for the PLM encoder + EntDecoder head (M1+M2).  Emits the
    reference's tag encoding (O=0, B-t=t+1, I-t=t+1+T).
    """
    n = len(tokens)
    gaz = model.gaz
    first = model.first_tokens
    max_len = model.max_term_len
    low = [w.lower() for w in tokens]
    mentions: list[Mention] = []
    i = 0
    while i < n:
        if low[i] not in first:  # one probe rejects most positions
            i += 1
            continue
        matched = False
        for ln in range(min(max_len, n - i), 0, -1):
            t = gaz.get(tuple(low[i : i + ln]))
            if t is not None:
                mentions.append((i, i + ln, t))
                i += ln
                matched = True
                break
        if not matched:
            i += 1
    return encode_bio(n, mentions, NUM_ENT_TYPES)


def detect_mentions(tokens: list[str], model: SurrogateModel) -> list[Mention]:
    """tag + BIO decode, capped at model.max_mentions (drops are counted by
    the pipeline's lineage metrics — never silent).  Dispatches on
    model.tokenizer so EVERY cascade entry point (the query path's
    mapInPandas and extract/ner.py's pandas UDF) gains the subword mode
    with zero call-site changes."""
    if model.tokenizer == "bpe":
        return detect_mentions_bpe(tokens, model)
    tags = tag_tokens(tokens, model)
    ments = decode_bio(tags, NUM_ENT_TYPES)
    return ments[: model.max_mentions]


def match_gap_pattern(gap_tokens: list[str], model: SurrogateModel) -> int:
    """Return rel_id for an exact gap-pattern match, else -1."""
    rel = model.patterns.get(tuple(w.lower() for w in gap_tokens))
    return -1 if rel is None else rel


def score_pair(
    tokens: list[str], sub: Mention, obj: Mention, model: SurrogateModel
) -> float:
    """M3 surrogate: cheap plausibility score in [0, 1).

    A pair whose gap matches a relation pattern scores >= 0.6 (always
    survives threshold + ranks first); otherwise a stable-hash score in
    [0, 0.4) — some noise pairs survive the threshold so the classifier's
    NA-drop (P8) does real work, as in the reference cascade.
    """
    sub_text = " ".join(tokens[sub[0] : sub[1]]).lower()
    obj_text = " ".join(tokens[obj[0] : obj[1]]).lower()
    return _score_from_texts(tokens, sub, obj, sub_text, obj_text, model)


def _score_from_texts(
    tokens: list[str],
    sub: Mention,
    obj: Mention,
    sub_text: str,
    obj_text: str,
    model: SurrogateModel,
) -> float:
    # crc32: C-speed, platform/session-stable; the noise band [0, 0.4) only
    # has to be deterministic — every noise pair is NA-dropped by M4.
    noise = (zlib.crc32(f"{sub_text}\x1f{obj_text}".encode()) % 10_000) / 25_000.0
    if sub[1] < obj[0] and obj[0] - sub[1] <= model.max_gap:
        if match_gap_pattern(tokens[sub[1] : obj[0]], model) >= 0:
            return 0.6 + noise / 2.0
    return noise


def _score_pairs(
    tokens: list[str], mentions: list[Mention], model: SurrogateModel
) -> list[tuple[Mention, Mention, float]]:
    """Ordered-pair enumeration (J1) + hard type filter (J4) + threshold
    (P5), UNORDERED (enumeration order) — the shared kernel under
    rank_pairs (which sorts it) and the extract fast path (which only
    needs the set when the top-k cannot truncate).  Scores are identical
    to _score_from_texts: the inlined type rule is vocab's only rule
    (Generic->Generic never relates), the noise band is cached per
    distinct mention-text pair (crc32 depends on the texts alone), and
    the gap branch replays match_gap_pattern over pre-lowercased
    tokens."""
    texts = [" ".join(tokens[s:e]).lower() for s, e, _ in mentions]
    thresh = model.score_threshold
    max_gap = model.max_gap
    patterns = model.patterns
    gen = GENERIC_ID
    low: list[str] | None = None
    noise_cache: dict[tuple[str, str], float] = {}
    crc32 = zlib.crc32
    scored = []
    for i, sub in enumerate(mentions):
        ti = texts[i]
        se = sub[1]
        sub_gen = sub[2] == gen
        for j, obj in enumerate(mentions):
            if i == j:
                continue
            if sub_gen and obj[2] == gen:  # type_pair_allowed's only rule
                continue
            tj = texts[j]
            key = (ti, tj)
            noise = noise_cache.get(key)
            if noise is None:
                noise = (crc32(f"{ti}\x1f{tj}".encode()) % 10_000) / 25_000.0
                noise_cache[key] = noise
            os_ = obj[0]
            if se < os_ <= se + max_gap:
                if low is None:
                    low = [w.lower() for w in tokens]
                if patterns.get(tuple(low[se:os_])) is not None:
                    s = 0.6 + noise / 2.0
                    if s > thresh:
                        scored.append((sub, obj, s))
                    continue
            if noise > thresh:
                scored.append((sub, obj, noise))
    return scored


_PAIR_SORT_KEY = lambda g: (-g[2], g[0][0], g[0][1], g[1][0], g[1][1])  # noqa: E731


def rank_pairs(
    tokens: list[str], mentions: list[Mention], model: SurrogateModel
) -> list[tuple[Mention, Mention, float]]:
    """Ordered-pair enumeration (J1) + hard type filter (J4) + threshold
    (P5) + score-desc total-order ranking (W1) + top-k (W2).

    Tie-break on the full span key so ordering is parallelism-invariant
    (the reference sorts by score only, entity_pair_filter.py:421 — float
    ties there fall back to python's stable sort over enumeration order;
    our total key is deterministic under any partitioning).
    """
    scored = _score_pairs(tokens, mentions, model)
    scored.sort(key=_PAIR_SORT_KEY)
    return scored[: model.top_k_pairs]


def _ranked_for_extract(
    tokens: list[str], mentions: list[Mention], model: SurrogateModel
) -> list[tuple[Mention, Mention, float]]:
    """rank_pairs' SELECTION without its ordering work when the order
    cannot matter: the extract_* consumers reduce the ranked list into a
    key-dedup dict (span keys are unique per pair; text keys all carry
    the same constant classify score), so the output is a SET — ordering
    only affects which pairs survive the top-k cut.  When nothing is cut
    the sort is skipped outright; when it would cut, the full total-order
    sort runs and the selection is exactly rank_pairs'."""
    scored = _score_pairs(tokens, mentions, model)
    if len(scored) > model.top_k_pairs:
        scored.sort(key=_PAIR_SORT_KEY)
        return scored[: model.top_k_pairs]
    return scored


def classify_relation(
    tokens: list[str], sub: Mention, obj: Mention, model: SurrogateModel
) -> tuple[int, float]:
    """M4 surrogate: (rel_id + 1, score); 0 = NA (reference re_model.py:805,
    NA-drop at theta.py:528-536)."""
    if sub[1] < obj[0] and obj[0] - sub[1] <= model.max_gap:
        rel = match_gap_pattern(tokens[sub[1] : obj[0]], model)
        if rel >= 0:
            return rel + 1, 0.9
    return 0, 0.9


def _classified(
    tokens: list[str], mentions: list[Mention], model: SurrogateModel
):
    """M3 -> M4 over one unit: yield ``(sub, obj, rel_id, score)`` for every
    ranked pair the classifier keeps (NA-dropped, reference
    theta.py:528-536), in the order the dedup consumers see it."""
    for sub, obj, _s in _ranked_for_extract(tokens, mentions, model):
        if _s < 0.6:
            # noise-band pair: score_pair gives >= 0.6 exactly when the
            # gap matches a relation pattern, i.e. exactly when
            # classify_relation is non-NA — classifying it is a
            # guaranteed NA-drop
            continue
        rel_plus1, score = classify_relation(tokens, sub, obj, model)
        if rel_plus1 != 0:
            yield sub, obj, rel_plus1 - 1, score


def extract_triples_spanned(
    tokens: list[str],
    model: SurrogateModel,
    mentions: list[Mention] | None = None,
) -> list[tuple[int, int, int, int, int, int, int, float]]:
    """Per-unit cascade keeping SPAN keys:
    ``[(ss, se, os, oe, rel_id, sub_type, obj_type, score)]``.

    The text-key dedup of ``extract_triples`` collapses distinct span pairs
    with equal surfaces; strict evaluation (reference
    data/data_structures.py:404-441 — relation matched AND both argument
    spans predicted) needs the span identity, so dedup here is on the span
    key.  ``mentions`` as in extract_triples."""
    if mentions is None:
        mentions = detect_mentions(tokens, model)
    out: dict[tuple[int, int, int, int, int, int, int], float] = {}
    for sub, obj, rel, score in _classified(tokens, mentions, model):
        out.setdefault((sub[0], sub[1], obj[0], obj[1], rel, sub[2], obj[2]), score)
    return [(*k, v) for k, v in sorted(out.items())]


def extract_triples(
    tokens: list[str],
    model: SurrogateModel,
    mentions: list[Mention] | None = None,
) -> list[tuple[str, str, int, int, int, float]]:
    """Full per-unit cascade -> deduped text triples — the ONE M3 -> M4 ->
    dedup loop every extraction path runs.

    Returns ``[(sub_text, obj_text, rel_type_id, sub_type, obj_type, score)]``
    — the reference's emitted 5-tuple (models/theta.py:535) plus score,
    set-deduped per unit (theta.py:536).  ``mentions`` defaults to
    ``detect_mentions(tokens, model)``; callers that tag elsewhere (the
    context window's in-unit filter, cross-NER merges, gold mentions)
    inject their own span list, in ``tokens``' index space.
    """
    if mentions is None:
        mentions = detect_mentions(tokens, model)
    out: dict[tuple[str, str, int, int, int], float] = {}
    for sub, obj, rel, score in _classified(tokens, mentions, model):
        key = (
            " ".join(tokens[sub[0] : sub[1]]),
            " ".join(tokens[obj[0] : obj[1]]),
            rel, sub[2], obj[2],
        )
        out.setdefault(key, score)
    return [(*k, v) for k, v in sorted(out.items())]
