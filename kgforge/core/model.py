"""SurrogateModel — the narrow encoder interface (SURVEY.md §7.0).

The pipeline's operator DAG is fixed; the "weights" (gazetteer + relation
patterns + thresholds) are swappable per corpus domain.  A real ONNX/torch
PLM encoder implements the same three calls (detect mentions / score pair /
classify relation) without touching any Spark code.

Registered models:
  * ``repos`` — the synthetic source-code corpus (FIXTURES.md grammar:
    multi-token lexicon, multi-token gap patterns).
  * ``docs``  — the driver's ``documents`` table domain (31-token
    vocabulary, single-token lexicon and gap patterns) — deliberately
    simple enough that every stage is exactly re-expressible in ANSI SQL
    for the DuckDB oracle gate.

Executor contract: UDFs capture only the model NAME (a string); the model
is rebuilt from its seed on each executor and cached (``get_model`` is
lru_cached) — the moral equivalent of broadcasting weights via SparkFiles.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

from .vocab import GAP_PATTERNS, gazetteer

# documents-table domain: token -> ent_type_id
# (ENT_TYPES = [Task, Method, Metric, Material, OtherScientificTerm, Generic])
DOC_ENT_LEX: dict[str, int] = {
    # Material
    "table": 3, "row": 3, "column": 3, "key": 3, "value": 3,
    # Method
    "join": 1, "scan": 1, "sort": 1, "merge": 1, "filter": 1, "agg": 1, "group": 1,
    # OtherScientificTerm
    "hash": 4, "vector": 4, "window": 4, "batch": 4, "stream": 4, "line": 4,
    # Task
    "spark": 0, "query": 0, "data": 0, "part": 0, "order": 0, "customer": 0,
    # Generic
    "dup": 5,
}

# documents-table domain: single-token gap -> rel_id
# (REL_TYPES = [USED-FOR, FEATURE-OF, HYPONYM-OF, PART-OF, COMPARE,
#               CONJUNCTION, EVALUATE-FOR])
DOC_GAP_PATTERNS: dict[tuple[str, ...], int] = {
    ("fast",): 0,   # USED-FOR
    ("small",): 1,  # FEATURE-OF
    ("the",): 2,    # HYPONYM-OF
    ("big",): 3,    # PART-OF
    ("slow",): 4,   # COMPARE
    ("a",): 5,      # CONJUNCTION
}


@dataclass
class SurrogateModel:
    name: str
    patterns: dict[tuple[str, ...], int]
    gaz: dict[tuple[str, ...], int] = field(repr=False)
    score_threshold: float = 0.05
    top_k_pairs: int = 30
    max_mentions: int = 64
    # subword stage (F1 fidelity): "ws" = whitespace only; "bpe" runs a
    # trained merge list below the word split (core/surrogate.py
    # detect_mentions_bpe).  bpe_merges travels IN THE MODEL NAME
    # (tok=bpe:<spec>, see get_model) so every executor rebuilds the
    # identical tokenizer from the string — the same contract as t=/k=.
    tokenizer: str = "ws"
    bpe_merges: tuple = ()
    # derived, precomputed once in __post_init__ — these sit on the
    # per-token hot path (a property recomputing max() over the gazetteer
    # per call was 87% of kernel time; docs/PLANS.md)
    max_gap: int = field(init=False)
    max_term_len: int = field(init=False)
    first_tokens: frozenset = field(init=False, repr=False)
    # subword-encoded gazetteer (gaz_sub dict keyed by (symbol,
    # starts_word) pairs, first-symbol probe set, max encoded length) —
    # built only in bpe mode
    gaz_sub: tuple = field(init=False, repr=False)

    def __post_init__(self):
        self.max_gap = max(len(p) for p in self.patterns)
        self.max_term_len = max(len(t) for t in self.gaz)
        # index of gazetteer first-words: one set probe rejects most
        # positions before any tuple is built (hot-path win, docs/PLANS.md)
        self.first_tokens = frozenset(t[0] for t in self.gaz)
        if self.tokenizer == "bpe":
            from .surrogate import bpe_encode_word

            # each symbol carries its word-start flag, so a key fixes the
            # term's word segmentation: ("ab","c") and ("a","bc") encode to
            # distinct keys, and no key matches across a word boundary the
            # term does not have
            enc: dict[tuple, int] = {}
            for term, t in self.gaz.items():
                key: list[tuple[str, bool]] = []
                for w in term:
                    syms = bpe_encode_word(w, self.bpe_merges)
                    key.extend((s, j == 0) for j, s in enumerate(syms))
                enc[tuple(key)] = t
            self.gaz_sub = (
                enc,
                frozenset(k[0][0] for k in enc),
                max(len(k) for k in enc),
            )
        else:
            self.gaz_sub = ({}, frozenset(), 0)


def bpe_model_name(base: str, merges) -> str:
    """Encode a trained merge list into a model-name override —
    ``base@tok=bpe:<spec>`` — so the FULL tokenizer config travels in
    the string and every executor rebuilds the identical model (the
    sweep-driver contract above).  Symbols are percent-encoded
    individually, so merge symbols may contain the separator characters
    (~ |) and the name-parser metacharacters (@ , =)."""
    from urllib.parse import quote

    spec = "|".join(
        quote(a, safe="") + "~" + quote(b, safe="") for a, b in merges
    )
    return f"{base}@tok=bpe:{spec}"


def _parse_bpe_spec(spec: str) -> tuple:
    from urllib.parse import unquote

    out = []
    for pair in spec.split("|"):
        if not pair:
            continue
        a, b = pair.split("~", 1)
        out.append((unquote(a), unquote(b)))
    return tuple(out)


@lru_cache(maxsize=16)
def get_model(name: str) -> SurrogateModel:
    """Resolve a model by name, rebuilding from seeds (executor-safe).

    Names may carry inference-config overrides after ``@`` —
    ``"repos@t=0.1,k=10"`` sets score_threshold / top_k_pairs.  This is
    how the sweep driver (scripts/sweep.py, the xjobs.py analog)
    parameterizes runs: the full config travels in the string, so every
    python worker rebuilds the identical model.
    """
    base, _, params = name.partition("@")
    if params:
        m = get_model(base)
        overrides: dict = {}
        for kv in params.split(","):
            k, v = kv.split("=", 1)
            if k == "t":
                overrides["score_threshold"] = float(v)
            elif k == "k":
                overrides["top_k_pairs"] = int(v)
            elif k == "tok":
                if v == "ws":
                    pass
                elif v.startswith("bpe:"):
                    overrides["tokenizer"] = "bpe"
                    overrides["bpe_merges"] = _parse_bpe_spec(v[4:])
                else:
                    raise KeyError(f"unknown tokenizer: {v}")
            else:
                raise KeyError(f"unknown model override: {k}")
        return SurrogateModel(
            name=name, patterns=m.patterns, gaz=m.gaz,
            score_threshold=overrides.get("score_threshold", m.score_threshold),
            top_k_pairs=overrides.get("top_k_pairs", m.top_k_pairs),
            max_mentions=m.max_mentions,
            tokenizer=overrides.get("tokenizer", m.tokenizer),
            bpe_merges=overrides.get("bpe_merges", m.bpe_merges),
        )
    if name == "repos":
        return SurrogateModel(name="repos", patterns=dict(GAP_PATTERNS), gaz=gazetteer())
    if name == "docs":
        # No mention/pair caps: the docs domain is the exact-oracle gate,
        # and its per-unit cardinality is bounded by document length anyway.
        # (The caps on the repos model mirror the reference's train-time
        # budget guards, data/utils.py:226-227 / re_model.py:364-368.)
        return SurrogateModel(
            name="docs",
            patterns=dict(DOC_GAP_PATTERNS),
            gaz={(tok,): t for tok, t in DOC_ENT_LEX.items()},
            top_k_pairs=1_000_000,
            max_mentions=1_000_000,
        )
    raise KeyError(f"unknown surrogate model: {name}")
