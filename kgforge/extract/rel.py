"""Stage 4 — relation classification (M4) + NA-drop (P8) + set-dedup (T4/A9).

Reference: second PLM pass with injected markers + (rel_num+1)-way argmax
(models/re_model.py:165-851), emit only rel != NA (models/theta.py:528-536),
set-dedup per sentence (theta.py:536).

Spark realizations:

* ``classify_pairs`` — pandas UDF over the relational pair rows (composes
  with pairs.pair_relational); the oracle-checkable reference plan.

* ``_triples_pass`` — the scale path: the ONE ``mapInPandas`` that emits
  ``TRIPLES_SCHEMA``.  Per Arrow batch it runs the shared per-unit cascade
  (``core.surrogate.extract_triples``: tag -> pair -> classify -> per-unit
  set-dedup; all stages are sentence-local, as the reference processes
  them per batch).  No shuffle between detection and triples and no
  global dedup: a unit is one row, so the per-unit dedup is the whole
  contract.  Three entry points feed it: ``extract_triples_onepass``
  (content), ``extract_triples_fused`` (units, optional ±k context
  window) and ``context.classify_mentions_fused`` (injected mentions).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.surrogate import classify_relation, extract_triples, tokenize
from ..core.vocab import ENT_TYPES, REL_TYPES
from .units import extract_units_text

TRIPLES_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("unit_id", IntegerType()),
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("subj_type", StringType()),
        StructField("obj_type", StringType()),
        StructField("score", DoubleType()),
        StructField("content_sha", StringType()),
    ]
)

TRIPLE_KEY = ["repo", "path", "unit_id", "subj", "pred", "obj", "subj_type", "obj_type"]


def make_classify_relation_udf(model_name: str):
    @F.pandas_udf(IntegerType())
    def classify_relation_udf(
        text: pd.Series,
        sub_start: pd.Series,
        sub_end: pd.Series,
        sub_type: pd.Series,
        obj_start: pd.Series,
        obj_end: pd.Series,
        obj_type: pd.Series,
    ) -> pd.Series:
        """Returns rel_id + 1 (0 = NA), reference encoding re_model.py:805."""
        from ..core.model import get_model

        model = get_model(model_name)
        out = []
        for t, ss, se, st, os_, oe, ot in zip(
            text, sub_start, sub_end, sub_type, obj_start, obj_end, obj_type
        ):
            toks = tokenize(t or "")
            rel_plus1, _score = classify_relation(
                toks, (ss, se, st), (os_, oe, ot), model
            )
            out.append(rel_plus1)
        return pd.Series(out, dtype="int32")

    return classify_relation_udf


def classify_pairs(pairs: DataFrame, model_name: str = "repos") -> DataFrame:
    """Relational path: ranked pairs -> deduped triples DataFrame."""
    rel = pairs.withColumn(
        "rel_plus1",
        make_classify_relation_udf(model_name)(
            "text", "sub_start", "sub_end", "sub_type",
            "obj_start", "obj_end", "obj_type",
        ),
    ).filter(F.col("rel_plus1") != 0)  # P8 NA-drop

    rel_names = F.array(*[F.lit(r) for r in REL_TYPES])
    ent_names = F.array(*[F.lit(e) for e in ENT_TYPES])
    # mention indices came from tokenize() == str.split(), which trims and
    # collapses whitespace runs; reconstruct surfaces under the SAME rule
    # (ADVICE r1: F.split(text, ' ') misaligned spans on double spaces)
    toks = F.split(F.trim(F.col("text")), "\\s+")
    triples = rel.select(
        "repo",
        "path",
        "commit",
        "unit_id",
        F.array_join(
            F.slice(toks, F.col("sub_start") + 1, F.col("sub_end") - F.col("sub_start")), " "
        ).alias("subj"),
        F.element_at(rel_names, F.col("rel_plus1")).alias("pred"),
        F.array_join(
            F.slice(toks, F.col("obj_start") + 1, F.col("obj_end") - F.col("obj_start")), " "
        ).alias("obj"),
        F.element_at(ent_names, F.col("sub_type") + 1).alias("subj_type"),
        F.element_at(ent_names, F.col("obj_type") + 1).alias("obj_type"),
        F.lit(0.9).alias("score"),
        "content_sha",
    )
    return triples.dropDuplicates(TRIPLE_KEY)


def _triples_pass(
    df: DataFrame, model_name: str, units_of: Callable[..., Iterator[tuple]]
) -> DataFrame:
    """The one Arrow pass emitting ``TRIPLES_SCHEMA``.  ``units_of(row,
    model)`` yields ``(unit_id, content_sha, tokens, mentions)`` for every
    unit an input row carries; ``mentions=None`` lets the cascade tag the
    tokens itself.  Each unit runs the shared extract_triples loop, whose
    per-unit set-dedup is the only dedup (a unit never spans rows)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.model import get_model

        model = get_model(model_name)
        cols = [f.name for f in TRIPLES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                for uid, sha, toks, ments in units_of(r, model):
                    for sub, obj, rel, st, ot, score in extract_triples(
                        toks, model, ments
                    ):
                        rows.append(
                            (
                                r.repo, r.path, r.commit, uid,
                                sub, REL_TYPES[rel], obj,
                                ENT_TYPES[st], ENT_TYPES[ot],
                                score, sha,
                            )
                        )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(gen, TRIPLES_SCHEMA)


def _content_units(r, model):
    content = r.content or ""  # null-content rows yield nothing
    sha = hashlib.sha256(content.encode()).hexdigest()
    for uid, _kind, text in extract_units_text(content, r.lang or ""):
        yield uid, sha, tokenize(text), None


def _unit_tokens(r, model):
    yield r.unit_id, r.content_sha, tokenize(r.text or ""), None


def extract_triples_onepass(repos: DataFrame, model_name: str = "repos") -> DataFrame:
    """Maximal fusion: repos(content) -> triples in ONE Arrow pass.

    Unit extraction, tagging, pairing, and classification are all
    row-local, so a single mapInPandas avoids the JVM<->Python Arrow hop
    between the unit UDF and the cascade UDF (~4x wall on the 8k-file
    corpus at local[32]).  sha256 is computed in-UDF (same value as
    F.sha2, covered by the provenance tests)."""
    return _triples_pass(repos, model_name, _content_units)


def extract_triples_fused(
    units: DataFrame, model_name: str = "repos", k: int = 0
) -> DataFrame:
    """Units -> triples in one Arrow-batched pass, no shuffle.

    ``k`` > 0 widens each unit with its ±k neighbor sentences
    (``context.with_context``, one shuffle on (repo, path); reference
    config.yaml:34 context_window, data/utils.py:84-116): tagging (M1/M2)
    runs over the WIDENED tokens — a lexicon term straddling a sentence
    boundary changes greedy matching exactly as the reference's widened
    encoding does — while candidate pairs come only from mentions inside
    the unit's own token range (the reference enumerates relation
    candidates within sent_start/sent_end).  Surfaces are unit-local.
    k=0 ships the units as they are and tokenizes each text once."""
    if k == 0:
        return _triples_pass(units, model_name, _unit_tokens)
    from .context import window_mentions, with_context

    def units_of(r, model):
        toks, _lo, ments = window_mentions(r, model)
        yield r.unit_id, r.content_sha, toks, ments

    return _triples_pass(with_context(units, k), model_name, units_of)
