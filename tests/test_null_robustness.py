"""Dirty-input robustness: null/empty content, null lang — real corpora
at 10^12-file scale always contain these; no UDF may crash."""

from kgforge.extract.pipeline import extract_pipeline


def _dirty_df(spark):
    rows = [
        ("r", "a.py", "c1", "python", '"""key fast value."""'),
        ("r", "b.py", "c2", "python", None),
        ("r", "c.py", "c3", None, "x = 1"),
        ("r", "d.py", None, "python", ""),
        ("r", "e.md", "c5", "markdown", "\n\n\n"),
        ("r", "f.py", "c6", "python", '"""' + "x " * 5000 + '"""'),
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def test_pipeline_survives_dirty_rows_all_strategies(spark):
    df = _dirty_df(spark)
    results = {}
    for strategy in ("fused", "relational"):
        out = extract_pipeline(df, strategy).collect()
        results[strategy] = {
            (r.repo, r.path, r.unit_id, r.subj, r.pred, r.obj) for r in out
        }
        # only a.py carries a planted relation
        assert all(r.path == "a.py" for r in out)
    assert results["fused"] == results["relational"]


def test_mentions_udf_survives_null_text(spark):
    from pyspark.sql import functions as F

    from kgforge.extract.ner import make_detect_mentions_udf

    df = spark.createDataFrame([(None,), ("key fast value",)], "text string")
    out = df.select(make_detect_mentions_udf("docs")(F.col("text")).alias("m")).collect()
    assert out[0].m == []
    assert len(out[1].m) == 2


def test_quality_gate_rejects_null_and_empty(spark):
    """Null/empty documents must NOT pass the quality gate (raw null made
    every rule predicate null and the CASE fell through to 'ok')."""
    from kgforge.functions.quality import quality_flags

    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, "spark query filters data stream fast")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.keep, r.reason) for r in quality_flags(d).collect()}
    assert got[1] == (False, "too_short")
    assert got[2] == (False, "too_short")
    assert got[3] == (True, "ok")


def _null_events_dir(spark, tmp_path):
    """events table with NULL values and a constant-value type — the two
    latent hazards the r4 ADVICE named (rank-position shift between
    Spark NULLS FIRST and DuckDB NULLS LAST; LEAST() folding a NULL bin
    into bin 9; zero bin width)."""
    rows = []
    for i in range(200):
        val = None if i % 7 == 0 else float(i % 40) + 0.25
        rows.append((i, f"2024-01-{(i % 28) + 1:02d} 00:00:00",
                     i % 9, "view" if i % 2 else "click", val, '{"k": 1}'))
    for i in range(200, 220):  # constant-value type: hi == lo within type
        rows.append((i, "2024-01-05 00:00:00", 3, "signup", 5.0, "{}"))
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = tmp_path / "nulls"
    df.write.parquet(str(d / "events.parquet"))
    return str(d)


def test_event_stats_queries_match_oracle_on_null_values(spark, tmp_path):
    """q_event_quantiles / q_value_histogram / q_value_mad agree with
    their DuckDB oracles on a NULL-bearing events table (the driver
    fixtures carry no NULLs, so without this test the r5 NULL fixes
    would be unpinned — exactly the gap the r4 ADVICE flagged)."""
    import duckdb

    from kgforge.queries import ALL_ORACLES, ALL_QUERIES

    sf_dir = _null_events_dir(spark, tmp_path)
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB views it via glob
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"parquet_scan('{sf_dir}/events.parquet/*.parquet')"
    )
    for name in ("q_event_quantiles", "q_value_histogram", "q_value_mad"):
        got = {
            tuple(r)
            for r in ALL_QUERIES[name](spark, sf_dir)
            .toPandas().itertuples(index=False)
        }
        want = {tuple(r) for r in con.execute(ALL_ORACLES[name]).fetchall()}
        assert got == want, f"{name}: spark != duckdb on NULL-bearing events"
        assert want, f"{name}: oracle empty — fixture broken"
