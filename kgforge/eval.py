"""Evaluation harness — the reference's val/test epoch as a Spark job.

Mirrors main.py's trainer.test() flow (§3.1): run the extraction cascade
over a SciERC-format eval corpus, join predictions against gold, and
compute set-based micro-P/R/F1 with the reference's exact semantics
(utils/metrics.py:1-52) — but DataFrame-side: the per-sentence set-dedup
is a groupBy, the intersection a per-key tag conjunction, the sums a
global agg (A1).

Metric slices, as in the reference (models/theta.py:473-493 and
data/data_structures.py:404-441):
  * test_f1       — (subj, obj, pred) text triple, slice=3 (theta.py:473)
  * test_f1_plus  — + subj_type, obj_type ("f1_plus", theta.py:474)
  * test_ner_f1   — entity mentions, span + type (theta.py:475)
  * test_f1_strict— relation span-pair + label matched AND both argument
                    spans among correctly-predicted mentions
                    (data_structures.py:evaluate_sent strict path)
  * test_rel_f1   — slice-3 triples when GOLD mentions are fed to the
                    pair-filter/classifier stages ("pred_triples_with_gold",
                    theta.py:476)

Plan shape: the cascade runs ONCE — a single fused mapInPandas emits both
mention and relation rows, localCheckpointed; every slice is then a light
single-aggregation job over the checkpointed output (the r1 version
re-ran the UDF cascade per count — 6 cascade executions per evaluate()).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .core.vocab import ENT_TYPES, REL_TYPES
from .fixtures import load_eval_docs_sentences

EVAL_PRED_SCHEMA = StructType(
    [
        StructField("doc_key", StringType()),
        StructField("sent_ix", LongType()),
        StructField("kind", StringType()),  # 'ner' | 'rel'
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("ent_type", StringType()),
        StructField("ss", IntegerType()),
        StructField("se", IntegerType()),
        StructField("os", IntegerType()),
        StructField("oe", IntegerType()),
        StructField("subj", StringType()),
        StructField("obj", StringType()),
        StructField("pred", StringType()),
        StructField("subj_type", StringType()),
        StructField("obj_type", StringType()),
    ]
)


def load_eval_units(
    spark: SparkSession, jsonl_path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """eval_docs.jsonl -> (units df, gold relations df WITH spans, gold
    mentions df)."""
    with open(jsonl_path) as f:
        docs = [json.loads(line) for line in f if line.strip()]
    sents = load_eval_docs_sentences(docs)
    units = spark.createDataFrame(
        [
            {
                "repo": "eval", "path": s["doc_key"], "commit": "eval",
                "lang": "eval", "content_sha": "eval",
                "unit_id": s["sent_ix"], "kind": "sent",
                "text": " ".join(s["tokens"]),
            }
            for s in sents
        ]
    )
    ner_rows, rel_rows = [], []
    for s in sents:
        ner = {(st, en): t for st, en, t in s["ner"]}
        for (st, en), t in ner.items():
            ner_rows.append(
                {
                    "doc_key": s["doc_key"], "sent_ix": s["sent_ix"],
                    "start": st, "end": en, "ent_type": ENT_TYPES[t],
                }
            )
        for ss, se, os_, oe, rel in s["relations"]:
            rel_rows.append(
                {
                    "doc_key": s["doc_key"],
                    "sent_ix": s["sent_ix"],
                    "ss": ss, "se": se, "os": os_, "oe": oe,
                    "subj": " ".join(s["tokens"][ss:se]),
                    "obj": " ".join(s["tokens"][os_:oe]),
                    "pred": REL_TYPES[rel],
                    "subj_type": ENT_TYPES[ner[(ss, se)]],
                    "obj_type": ENT_TYPES[ner[(os_, oe)]],
                }
            )
    gold_rel = spark.createDataFrame(rel_rows)
    gold_ner = spark.createDataFrame(ner_rows)
    return units, gold_rel, gold_ner


def _predict_eval_rows(units: DataFrame, model_name: str) -> DataFrame:
    """ONE fused Arrow pass over units emitting mention rows (kind='ner')
    and span-keyed relation rows (kind='rel')."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .core.model import get_model
        from .core.surrogate import (
            detect_mentions,
            extract_triples_spanned,
            tokenize,
        )

        model = get_model(model_name)
        cols = [f.name for f in EVAL_PRED_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                toks = tokenize(r.text or "")
                mentions = detect_mentions(toks, model)
                for st, en, t in mentions:
                    rows.append(
                        (r.path, r.unit_id, "ner", st, en, ENT_TYPES[t],
                         None, None, None, None, None, None, None, None, None)
                    )
                for ss, se, os_, oe, rel, st_, ot in [
                    x[:7] for x in extract_triples_spanned(toks, model, mentions)
                ]:
                    rows.append(
                        (
                            r.path, r.unit_id, "rel",
                            None, None, None,
                            ss, se, os_, oe,
                            " ".join(toks[ss:se]), " ".join(toks[os_:oe]),
                            REL_TYPES[rel], ENT_TYPES[st_], ENT_TYPES[ot],
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return units.mapInPandas(gen, EVAL_PRED_SCHEMA)


def _prf(pred: DataFrame, gold: DataFrame, key_cols: list[str]) -> tuple[float, float, float]:
    """Set micro-P/R/F1 in ONE aggregation job: union-with-tag, per-key
    max(tag), global sums (no driver-side recount of either side)."""
    tagged = pred.select(*key_cols).withColumn("is_p", F.lit(1)).withColumn(
        "is_g", F.lit(0)
    ).unionByName(
        gold.select(*key_cols).withColumn("is_p", F.lit(0)).withColumn("is_g", F.lit(1))
    )
    row = (
        tagged.groupBy(*key_cols)
        .agg(F.max("is_p").alias("is_p"), F.max("is_g").alias("is_g"))
        .agg(
            F.sum("is_p").alias("n_pred"),
            F.sum("is_g").alias("n_gold"),
            F.sum(F.col("is_p") * F.col("is_g")).alias("n_correct"),
        )
        .collect()[0]
    )
    return _f1_from_counts(row.n_pred, row.n_gold, row.n_correct)


def _prf_raw(
    pred: DataFrame, gold: DataFrame, key_cols: list[str]
) -> tuple[float, float, float]:
    """RAW-count micro-P/R/F1, matching the reference's saved-prediction
    scorer exactly (evaluate_predictions, data/data_structures.py:405-421):
    n_pred / n_gold are raw annotation counts and every predicted
    annotation with a gold match counts — duplicates count multiple times,
    unlike the set-based _prf.  Still ONE aggregation job: per-key raw
    counts, then n_correct = sum of pred multiplicities on keys gold has."""
    tagged = pred.select(*key_cols).withColumn("is_p", F.lit(1)).withColumn(
        "is_g", F.lit(0)
    ).unionByName(
        gold.select(*key_cols).withColumn("is_p", F.lit(0)).withColumn("is_g", F.lit(1))
    )
    row = (
        tagged.groupBy(*key_cols)
        .agg(F.sum("is_p").alias("cnt_p"), F.sum("is_g").alias("cnt_g"))
        .agg(
            F.sum("cnt_p").alias("n_pred"),
            F.sum("cnt_g").alias("n_gold"),
            F.sum(
                F.col("cnt_p") * (F.col("cnt_g") > 0).cast("int")
            ).alias("n_correct"),
        )
        .collect()[0]
    )
    return _f1_from_counts(row.n_pred, row.n_gold, row.n_correct)


def _f1_from_counts(n_pred: int, n_gold: int, n_correct: int):
    precision = n_correct / (n_pred + 1e-8)
    recall = n_correct / (n_gold + 1e-8)
    f1 = 2 * precision * recall / (precision + recall + 1e-8)
    return f1, precision, recall


def _with_gold_mentions_triples(
    units: DataFrame, gold_ner: DataFrame, model_name: str
) -> DataFrame:
    """'pred_triples_with_gold' ablation (theta.py:476): the pair filter +
    relation classifier run over GOLD mentions instead of detected ones.
    Gold mentions are collected per sentence (small arrays) and joined onto
    units before one Arrow pass over the M3/M4 stages only."""
    ner_arrays = gold_ner.groupBy("doc_key", "sent_ix").agg(
        F.collect_list(F.struct("start", "end", "ent_type")).alias("gold_mentions")
    )
    u = units.join(
        ner_arrays,
        (units.path == ner_arrays.doc_key) & (units.unit_id == ner_arrays.sent_ix),
        "inner",
    ).select("path", "unit_id", "text", "gold_mentions")

    schema = StructType(
        [
            StructField("doc_key", StringType()),
            StructField("sent_ix", LongType()),
            StructField("subj", StringType()),
            StructField("obj", StringType()),
            StructField("pred", StringType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .core.model import get_model
        from .core.surrogate import extract_triples, tokenize

        model = get_model(model_name)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                toks = tokenize(r.text or "")
                mentions = sorted(
                    (m["start"], m["end"], ENT_TYPES.index(m["ent_type"]))
                    for m in r.gold_mentions
                )
                # the slice keys on (subj, obj, pred): set-dedup the
                # cascade's typed triples down to that key
                triples = extract_triples(toks, model, mentions)
                for subj, obj, pred in dict.fromkeys(
                    (t[0], t[1], REL_TYPES[t[2]]) for t in triples
                ):
                    rows.append((r.path, r.unit_id, subj, obj, pred))
            yield pd.DataFrame(
                rows, columns=["doc_key", "sent_ix", "subj", "obj", "pred"]
            )

    return u.mapInPandas(gen, schema)


def evaluate(
    spark: SparkSession, jsonl_path: str, model_name: str = "repos"
) -> dict[str, float]:
    """Run the cascade ONCE over the eval corpus, return micro metrics for
    every reference slice."""
    units, gold_rel, gold_ner = load_eval_units(spark, jsonl_path)
    pred = _predict_eval_rows(units, model_name).localCheckpoint(eager=True)
    pred_ner = pred.filter(F.col("kind") == "ner").select(
        "doc_key", "sent_ix", "start", "end", "ent_type"
    )
    pred_rel = pred.filter(F.col("kind") == "rel")

    sent_key = ["doc_key", "sent_ix"]
    f1_3, p_3, r_3 = _prf(pred_rel, gold_rel, sent_key + ["subj", "obj", "pred"])
    f1_full, p_full, r_full = _prf(
        pred_rel, gold_rel,
        sent_key + ["subj", "obj", "pred", "subj_type", "obj_type"],
    )
    ner_f1, ner_p, ner_r = _prf(
        pred_ner, gold_ner, sent_key + ["start", "end", "ent_type"]
    )

    # strict (data_structures.py:evaluate_sent): relation matched on the
    # SPAN-pair + label, AND both argument spans are correctly-predicted
    # mentions (span+type match -> correct_ner; membership is span-only).
    rel_span_key = sent_key + ["ss", "se", "os", "oe", "pred"]
    correct_ner = pred_ner.join(
        gold_ner, on=sent_key + ["start", "end", "ent_type"], how="left_semi"
    )
    matched_rel = (
        pred_rel.select(*rel_span_key)
        .distinct()
        .join(gold_rel.select(*rel_span_key).distinct(), on=rel_span_key, how="left_semi")
    )
    sub_ok = correct_ner.select(
        "doc_key", "sent_ix", F.col("start").alias("ss"), F.col("end").alias("se")
    )
    obj_ok = correct_ner.select(
        "doc_key", "sent_ix", F.col("start").alias("os"), F.col("end").alias("oe")
    )
    strict_hits = matched_rel.join(
        sub_ok, on=sent_key + ["ss", "se"], how="left_semi"
    ).join(obj_ok, on=sent_key + ["os", "oe"], how="left_semi")
    counts = (
        pred_rel.select(*rel_span_key).distinct()
        .withColumn("is_p", F.lit(1)).withColumn("is_g", F.lit(0)).withColumn("is_s", F.lit(0))
        .unionByName(
            gold_rel.select(*rel_span_key).distinct()
            .withColumn("is_p", F.lit(0)).withColumn("is_g", F.lit(1)).withColumn("is_s", F.lit(0))
        )
        .unionByName(
            strict_hits
            .withColumn("is_p", F.lit(0)).withColumn("is_g", F.lit(0)).withColumn("is_s", F.lit(1))
        )
        .agg(
            F.sum("is_p").alias("n_pred"),
            F.sum("is_g").alias("n_gold"),
            F.sum("is_s").alias("n_strict"),
        )
        .collect()[0]
    )
    f1_s, p_s, r_s = _f1_from_counts(counts.n_pred, counts.n_gold, counts.n_strict)

    # rel_f1 ablation: gold mentions into M3/M4
    pred_wg = _with_gold_mentions_triples(units, gold_ner, model_name)
    f1_rel, p_rel, r_rel = _prf(pred_wg, gold_rel, sent_key + ["subj", "obj", "pred"])

    return {
        "test_f1": round(f1_3, 4), "test_p": round(p_3, 4), "test_r": round(r_3, 4),
        "test_f1_plus": round(f1_full, 4),
        "test_p_plus": round(p_full, 4), "test_r_plus": round(r_full, 4),
        "test_ner_f1": round(ner_f1, 4),
        "test_ner_p": round(ner_p, 4), "test_ner_r": round(ner_r, 4),
        "test_f1_strict": round(f1_s, 4),
        "test_p_strict": round(p_s, 4), "test_r_strict": round(r_s, 4),
        "test_rel_f1": round(f1_rel, 4),
        "test_rel_p": round(p_rel, 4), "test_rel_r": round(r_rel, 4),
    }


def predict_text(text: str, model_name: str = "repos") -> list[dict]:
    """Single-text serving path (reference predict.py, §3.2): same
    operators, no label joins, no Spark session needed — the cascade is
    row-local."""
    from .core.model import get_model
    from .core.surrogate import extract_triples, tokenize

    model = get_model(model_name)
    out = []
    for sub, obj, rel, st, ot, score in extract_triples(tokenize(text), model):
        out.append(
            {
                "subj": sub, "pred": REL_TYPES[rel], "obj": obj,
                "subj_type": ENT_TYPES[st], "obj_type": ENT_TYPES[ot],
                "score": score,
            }
        )
    return out


# --------------------------------------------------------------------------
# eval-on-saved-predictions (reference Dataset(json_file, pred_file) +
# evaluate_predictions, data/data_structures.py:51-62,404-441)

SAVED_FLAT_SCHEMA = StructType(
    [
        StructField("doc_key", StringType()),
        StructField("who", StringType()),    # 'gold' | 'pred'
        StructField("kind", StringType()),   # 'ner'  | 'rel'
        StructField("s", IntegerType()),
        StructField("e", IntegerType()),
        StructField("os", IntegerType()),
        StructField("oe", IntegerType()),
        StructField("label", StringType()),
    ]
)


def _flatten_merged_docs(merged: DataFrame) -> DataFrame:
    """merged(doc_key, js, predicted_js) -> typed mention/relation rows
    (doc-level HALF-OPEN spans; SciERC stores inclusive ends)."""
    import json as _json

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in SAVED_FLAT_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc = _json.loads(r.js)
                doc.update(_json.loads(r.predicted_js or "{}"))
                for who, nk, rk in (
                    ("gold", "ner", "relations"),
                    ("pred", "predicted_ner", "predicted_relations"),
                ):
                    for sent in doc.get(nk) or []:
                        for s, e, t in sent:
                            rows.append(
                                (r.doc_key, who, "ner", s, e + 1, None, None, t)
                            )
                    for sent in doc.get(rk) or []:
                        for ss, se, os_, oe, label in sent:
                            rows.append(
                                (r.doc_key, who, "rel", ss, se + 1, os_, oe + 1, label)
                            )
            yield pd.DataFrame(rows, columns=cols)

    return merged.mapInPandas(gen, SAVED_FLAT_SCHEMA)


def evaluate_saved(
    spark: SparkSession, gold_jsonl: str, pred_jsonl: str
) -> dict[str, dict[str, float]]:
    """Score a SAVED prediction file against gold docs — the reference's
    ``Dataset(json_file, pred_file)`` load (predicted_* keys overlay gold,
    via the real overlay_predictions join) followed by
    ``evaluate_predictions``: NER (span+label), relation (span-pair +
    label), and strict relation (relation matched AND both argument spans
    among correctly-predicted mentions; membership span-only).

    Returns ``{"ner": {...}, "relation": {...}, "strict_relation": {...}}``
    with precision/recall/f1 each.  Counting is RAW, exactly as the
    reference's evaluate_predictions (data/data_structures.py:405-421):
    totals are raw annotation counts and each predicted annotation with a
    gold match counts — duplicate annotations count multiple times."""
    import json as _json

    from .io.sources import overlay_predictions

    with open(gold_jsonl) as f:
        gold_docs = [_json.loads(x) for x in f if x.strip()]
    with open(pred_jsonl) as f:
        pred_docs = [_json.loads(x) for x in f if x.strip()]
    gold = spark.createDataFrame(
        [(d["doc_key"], _json.dumps(d)) for d in gold_docs],
        "doc_key string, js string",
    )
    pred = spark.createDataFrame(
        [
            (
                d["doc_key"],
                _json.dumps({k: v for k, v in d.items() if "predicted" in k}),
            )
            for d in pred_docs
        ],
        "doc_key string, predicted_js string",
    )
    merged = overlay_predictions(
        gold.withColumn("predicted_js", F.lit("{}")), pred, key="doc_key"
    )
    flat = _flatten_merged_docs(merged).localCheckpoint(eager=True)

    def side(who, kind):
        return flat.filter((F.col("who") == who) & (F.col("kind") == kind))

    ner_key = ["doc_key", "s", "e", "label"]
    f1_n, p_n, r_n = _prf_raw(side("pred", "ner"), side("gold", "ner"), ner_key)

    rel_key = ["doc_key", "s", "e", "os", "oe", "label"]
    f1_r, p_r, r_r = _prf_raw(side("pred", "rel"), side("gold", "rel"), rel_key)

    # strict: relation matched + both arg SPANS among correct mentions.
    # Per-PREDICTION counting (raw pred multiplicity preserved through the
    # semi-joins); gold/membership sides are set-semantic lookups.
    correct_ner = side("pred", "ner").join(
        side("gold", "ner").select(*ner_key), on=ner_key, how="left_semi"
    )
    matched_rel = (
        side("pred", "rel").select(*rel_key)
        .join(side("gold", "rel").select(*rel_key).distinct(), on=rel_key, how="left_semi")
    )
    sub_ok = correct_ner.select("doc_key", "s", "e").distinct()
    obj_ok = correct_ner.select(
        "doc_key", F.col("s").alias("os"), F.col("e").alias("oe")
    ).distinct()
    strict_hits = matched_rel.join(
        sub_ok, on=["doc_key", "s", "e"], how="left_semi"
    ).join(obj_ok, on=["doc_key", "os", "oe"], how="left_semi")
    counts = (
        side("pred", "rel").select(*rel_key)
        .withColumn("t", F.lit("p"))
        .unionByName(side("gold", "rel").select(*rel_key).withColumn("t", F.lit("g")))
        .unionByName(strict_hits.withColumn("t", F.lit("s")))
        .agg(
            F.sum(F.when(F.col("t") == "p", 1).otherwise(0)).alias("n_pred"),
            F.sum(F.when(F.col("t") == "g", 1).otherwise(0)).alias("n_gold"),
            F.sum(F.when(F.col("t") == "s", 1).otherwise(0)).alias("n_strict"),
        )
        .collect()[0]
    )
    f1_s, p_s, r_s = _f1_from_counts(counts.n_pred, counts.n_gold, counts.n_strict)

    def d(f1, p, r):
        return {"precision": round(p, 4), "recall": round(r, 4), "f1": round(f1, 4)}

    return {
        "ner": d(f1_n, p_n, r_n),
        "relation": d(f1_r, p_r, r_r),
        "strict_relation": d(f1_s, p_s, r_s),
    }
