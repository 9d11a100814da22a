"""M1–M11 mention detectors on crafted texts (SURVEY.md §5)."""

from pyspark.sql import functions as F

from kgcompass_spark.functions.mentions import (
    anchor_terms,
    closing_ref_mentions,
    file_path_mentions,
    inline_identifier_mentions,
    issue_number_mentions,
    mentions_dataframe,
    noise_filter,
    rank_and_truncate,
    traceback_mentions,
)


def run(spark, text, col_builder):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(col_builder(F.col("t")).alias("v")).first()["v"]


def texts(rows):
    return [r["text"] for r in rows]


def test_file_path_mentions(spark):
    out = run(spark, "bug in pkg/sub/mod.py and ./x.py plus tests/test_a.py", file_path_mentions)
    assert set(texts(out)) == {"pkg/sub/mod.py", "./x.py", "tests/test_a.py"}


def test_issue_numbers(spark):
    out = run(spark, "see #12 and #345, not 678", issue_number_mentions)
    assert set(texts(out)) == {"12", "345"}


def test_closing_refs(spark):
    out = run(
        spark,
        "Fixes #10, closed #11, resolves #12, https://github.com/a/b/pull/99",
        closing_ref_mentions,
    )
    assert set(texts(out)) == {"10", "11", "12", "99"}


def test_inline_identifiers_typed(spark):
    out = run(
        spark,
        "call `pkg.mod.Cls.meth` then self.attr and foo_fn() with MAX_SIZE_LIMIT",
        inline_identifier_mentions,
    )
    typed = {(r["mtype"], r["text"]) for r in out}
    assert ("import", "pkg.mod.Cls.meth") in typed
    assert ("variable", "attr") in typed
    assert ("call", "foo_fn") in typed
    assert ("global", "MAX_SIZE_LIMIT") in typed


def test_traceback_frames(spark):
    txt = 'Traceback:\nFile "a/b.py", line 14, in run_cycle\nValueError'
    out = run(spark, txt, traceback_mentions)
    assert [(r["file"], r["line"], r["func"]) for r in out] == [("a/b.py", 14, "run_cycle")]


def test_noise_filter_drops_junk(spark):
    texts_in = [
        ("call", "description"),   # common word
        ("call", "__init__"),      # dunder
        ("call", "ab"),            # too short
        ("import", "example.com"), # domain
        ("call", "real_name"),     # keeper
    ]
    df = spark.createDataFrame([(texts_in,)], "m array<struct<mtype:string,text:string>>")
    out = df.select(noise_filter(F.col("m")).alias("v")).first()["v"]
    assert [r["text"] for r in out] == ["real_name"]


def test_rank_and_truncate_order(spark):
    ms = [("call", "zz_aa"), ("file", "pkg/mod.py"), ("import", "a.b.c")]
    df = spark.createDataFrame([(ms,)], "m array<struct<mtype:string,text:string>>")
    out = df.select(rank_and_truncate(F.col("m")).alias("v")).first()["v"]
    # pkg/mod.py: len 10 + .py bonus 10 + 1 dot*5 = 25; a.b.c: 5+10=15; zz_aa: 5
    assert [r["text"] for r in out] == ["pkg/mod.py", "a.b.c", "zz_aa"]


def test_extract_all_mentions_battery(spark):
    """The full M1–M10 battery as the pipeline runs it (mentions_dataframe)."""
    txt = (
        "Crash in alpha/beta/gamma.py when `alpha.beta.gamma.Gamma.run` "
        "fires; see #7. Contact a@b.com about the `description`."
    )
    df = spark.createDataFrame([(txt,)], "clean_text string")
    out = mentions_dataframe(df).first()["mentions"]
    got = {(r["mtype"], r["text"]) for r in out}
    assert ("file", "alpha/beta/gamma.py") in got
    assert ("import", "alpha.beta.gamma.Gamma.run") in got
    assert ("issue", "7") in got
    assert all(t != "description" for _, t in got)
    assert all("@" not in t for _, t in got)


def test_anchor_terms(spark):
    df = spark.createDataFrame(
        [("Fix TokenStream emit bug", "body `emit_token` text")],
        "title string, body string",
    )
    out = df.select(anchor_terms(F.col("title"), F.col("body")).alias("v")).first()["v"]
    assert "emit_token" in out and "tokenstream" in out
