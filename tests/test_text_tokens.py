"""BPE-ish tokenizer branch coverage: the sf fixtures are plain
lowercase word soup, so every non-letter branch of the GPT-2-style
pretokenizer regex (contractions, digit runs, punctuation runs) is
exercised here on crafted strings, with Spark↔DuckDB parity asserted
(the oracle-parity sweep only sees the fixture data)."""

import duckdb
import pandas as pd
import pyspark.sql.functions as F

from cosmospark.queries import SQL_BPE_TOKENS, _BPE_PAT

ROWS = [
    (0, "it's a test, don't you think? 42 times!"),
    (1, "hello   world"),
    (2, ""),
    (3, "we're they'll i'd 3.14"),
    (4, "antidisestablishmentarianism ok"),
]


def _spark_counts(spark, pdf):
    toks = f'regexp_extract_all(text, "{_BPE_PAT}", 0)'
    return (
        spark.createDataFrame(pdf)
        .select(
            "doc_id",
            F.expr(f"cast(size({toks}) as bigint)").alias("n_bpe_tokens"),
            F.expr(
                f"aggregate({toks}, 0L,"
                f" (acc, t) -> acc + cast(ceil(length(trim(t)) / 4.0) as bigint))"
            ).alias("n_subword_units"),
            F.expr(toks).alias("toks"),
        )
        .orderBy("doc_id")
        .toPandas()
    )


def test_bpe_pretokenizer_branches(spark):
    pdf = pd.DataFrame(ROWS, columns=["doc_id", "text"])
    got = _spark_counts(spark, pdf)
    # contraction suffixes split off; punctuation and digit runs are
    # their own tokens; runs of spaces collapse into the next token
    assert list(got["toks"][0]) == [
        "it", "'s", " a", " test", ",", " don", "'t", " you",
        " think", "?", " 42", " times", "!",
    ]
    assert list(got["toks"][2]) == []
    # 28-letter word → ceil(28/4) = 7 subword units
    assert got["n_subword_units"][4] == 7 + 1

    con = duckdb.connect()
    con.register("documents", pdf)
    ora = con.execute(SQL_BPE_TOKENS).df().astype(
        {"n_bpe_tokens": "int64", "n_subword_units": "int64"}
    )
    pd.testing.assert_frame_equal(
        got[["doc_id", "n_bpe_tokens", "n_subword_units"]],
        ora,
        check_dtype=False,
    )


def test_release_cached_generations(spark):
    """The explicit teardown for the generation cache (ADVICE r4): the
    final live generation is unpersisted and the registry emptied; a
    re-invocation after release rebuilds cleanly."""
    from cosmospark import queries as Q

    sf = "/root/testdata/sf0.001"
    Q.queries()["ngram_jaccard"](spark, sf).count()
    assert "ngram_jaccard" in Q._CACHE_GENERATIONS
    Q.release_cached_generations("ngram_jaccard")
    assert "ngram_jaccard" not in Q._CACHE_GENERATIONS
    # full release is a no-op on unknown/empty keys
    Q.release_cached_generations()
    assert Q._CACHE_GENERATIONS == {}
    # rebuild after release still works
    assert Q.queries()["ngram_jaccard"](spark, sf).count() >= 0


def test_gopher_repetition_crafted(spark, tmp_path):
    """The sf fixture corpus never repeats a 5-gram (dup5_chars is 0
    across the sweep), so the duplicated-5-gram arm and the < 2-word
    NULL edge are pinned here on crafted docs, with Spark<->DuckDB
    parity over the exact same parquet. Outputs are integer char
    masses (ADVICE r5): callers divide by total_chars."""
    from cosmospark.queries import q_gopher_repetition, sql_gopher_repetition

    rows = [
        # top 2-gram "a b" x3; no duplicated 5-gram
        (0, "a b a b a b"),
        # "x y z w q" x3 + four overlapping 5-grams x2 -> mass 99/29 > 1
        (1, "x y z w q x y z w q x y z w q"),
        (2, "solo"),  # < 2 words: NULL top2_*, dup5 = 0
        # count tie between "t u" and "u t": lexicographic min wins
        (3, "t u t"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    sf = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = q_gopher_repetition(spark, sf).toPandas()
    assert got["top2_count"][0] == 3 and got["top2_gram"][0] == "a b"
    assert got["top2_chars"][0] == 3 * 3 and got["total_chars"][0] == 11
    assert got["dup5_chars"][0] == 0
    assert got["top2_chars"][1] == 3 * 3  # "x y" x3
    assert got["dup5_chars"][1] == (3 + 2 + 2 + 2 + 2) * 9
    assert got["total_chars"][1] == 29
    assert pd.isna(got["top2_count"][2]) and pd.isna(got["top2_gram"][2])
    assert pd.isna(got["top2_chars"][2])
    assert got["dup5_chars"][2] == 0
    assert got["top2_gram"][3] == "t u"  # tie at count 1, lexicographic min

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    ora = con.sql(sql_gopher_repetition()).df()
    pd.testing.assert_frame_equal(got, ora, check_dtype=False)


def test_doc_fingerprint_null_text_matches_oracle(spark, tmp_path):
    """A NULL-text doc keeps its row with a NULL fingerprint, as in the
    DuckDB oracle; the sf fixtures have no NULL text."""
    from cosmospark.queries import SQL_FINGERPRINT, q_doc_fingerprint

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "a bb ccc"), (2, None), (3, ""), (4, "x")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = [tuple(r) for r in q_doc_fingerprint(spark, sf).collect()]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    ora = con.sql(SQL_FINGERPRINT).fetchall()
    assert got == ora == [(1, 480), (2, None), (3, 0), (4, 151)]


def test_stratified_sample_rates_and_determinism(spark):
    from cosmospark.queries import (
        _SAMPLE_MOD,
        _SAMPLE_RATES_BP,
        q_stratified_sample,
    )

    sf = "/root/testdata/sf0.01"
    got = q_stratified_sample(spark, sf).toPandas()
    again = q_stratified_sample(spark, sf).toPandas()
    pd.testing.assert_frame_equal(got, again)  # rerun-stable, no RNG

    totals = (
        duckdb.sql(f"SELECT lang, COUNT(*) n FROM '{sf}/documents.parquet' GROUP BY 1")
        .df()
        .set_index("lang")["n"]
    )
    kept = got.groupby("lang").size()
    for lang, bp in _SAMPLE_RATES_BP.items():
        rate = bp / _SAMPLE_MOD
        frac = kept.get(lang, 0) / totals[lang]
        # hash-Bernoulli: binomial concentration around the rate
        assert abs(frac - rate) < 0.17, (lang, frac, rate)
    # fr keeps everything at rate 10000/10000
    assert kept["fr"] == totals["fr"]


def test_stratified_sample_plan_is_map_only(spark):
    from cosmospark.queries import q_stratified_sample

    df = q_stratified_sample(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only Exchange is the cosmetic output sort's range partitioning
    body = plan.split("rangepartitioning")[-1]
    assert "Exchange" not in body
    assert "Python" not in plan  # xxhash64 + CASE stay JVM-side
