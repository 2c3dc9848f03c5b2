"""Text functions: tokenization, language-ID, fingerprints."""

from __future__ import annotations

from pyspark.sql import functions as F

from edu_online_spark.functions import text as T
from edu_online_spark.operators.textops import text_quality


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat."), (2, "x!!!")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in text_quality(df).collect()}
    assert rows[1]["n_tokens"] == 6
    assert rows[1]["n_punct"] == 1
    assert rows[1]["n_stop"] == 2  # 'the' twice ('mat.' has the dot)
    assert rows[2]["quality_score"] < rows[1]["quality_score"]


def test_bpe_tokens(spark):
    df = spark.createDataFrame([(1, "abc123 def!")], ["doc_id", "text"])
    n = df.select(T.bpe_token_count("text").alias("n")).collect()[0]["n"]
    # abc | 123 | def | !
    assert n == 4


def test_predict_lang(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el perro y la casa de los gatos"),
            (3, "der hund und die katze ist hier"),
            (4, "zzz qqq www"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["p"]
        for r in df.select("doc_id", T.predict_lang("text").alias("p")).collect()
    }
    assert out[1] == "en" and out[2] == "es" and out[3] == "de"
    assert out[4] == "und"


def test_fingerprint_deterministic_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "hello worle"), (4, "")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["f"] for r in df.select("doc_id", T.fingerprint("text").alias("f")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    assert fp[4] == 0
    # reference value: fold of (acc*31 + ascii) % 1e9+7
    acc = 0
    for ch in "hello world":
        acc = (acc * 31 + ord(ch)) % 1_000_000_007
    assert fp[1] == acc


def test_fingerprint_fast_deterministic_and_sensitive(spark):
    """xxhash64 default: stable across runs/partitionings, distinct for
    distinct text, equal for equal text."""
    rows = [(0, "the quick brown fox"), (1, "the quick brown fox"), (2, "other")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", T.fingerprint_fast("text").alias("fp")).collect()
    }
    again = {
        r["doc_id"]: r["fp"]
        for r in df.repartition(7)
        .select("doc_id", T.fingerprint_fast("text").alias("fp"))
        .collect()
    }
    assert got == again
    assert got[0] == got[1] != got[2]


def test_spread_small_scan_passthrough_above_threshold(spark, tmp_path):
    """VERDICT r16 #9: the spread must be a structural NO-OP whenever
    the file input exceeds one split — at real scale input splits
    supply the parallelism and an added Exchange would be a regression.
    Simulated by dropping the threshold below the file's size."""
    from edu_online_spark.functions.text import (
        SPREAD_MAX_INPUT_BYTES_CONF,
        _SPREAD_SIZE_CACHE,
        spread_small_scan,
    )

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "text " * 50) for i in range(500)], ["doc_id", "text"]
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    _SPREAD_SIZE_CACHE.clear()
    spark.conf.set(SPREAD_MAX_INPUT_BYTES_CONF, "1")
    try:
        out = spread_small_scan(df, "doc_id")
        # pass-through: no repartition node added to the plan
        assert "RepartitionByExpression" not in out._jdf.queryExecution().logical().toString()
        # and the probe result was memoized for the next operator in
        # the same query path
        assert len(_SPREAD_SIZE_CACHE) == 1
        # small input (default threshold): the spread fires
        spark.conf.unset(SPREAD_MAX_INPUT_BYTES_CONF)
        out2 = spread_small_scan(df, "doc_id")
        assert "RepartitionByExpression" in out2._jdf.queryExecution().logical().toString()
        assert len(_SPREAD_SIZE_CACHE) == 1  # same file set, cache hit
    finally:
        try:
            spark.conf.unset(SPREAD_MAX_INPUT_BYTES_CONF)
        except Exception:
            pass


def test_spread_small_scan_cache_misses_on_in_place_rewrite(spark, tmp_path):
    """The size memo is keyed on each file's mtime and size as well as
    its path: rewriting a file in place under the same name must not
    serve the old total."""
    import os
    import shutil

    from edu_online_spark.functions.text import (
        SPREAD_MAX_INPUT_BYTES_CONF,
        _SPREAD_SIZE_CACHE,
        spread_small_scan,
    )

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame([(1, "tiny")], ["doc_id", "text"]).coalesce(1).write.parquet(p)
    (part,) = [f for f in os.listdir(p) if f.endswith(".parquet")]
    small = os.path.getsize(os.path.join(p, part))
    _SPREAD_SIZE_CACHE.clear()
    spark.conf.set(SPREAD_MAX_INPUT_BYTES_CONF, str(small + 1))
    try:
        plan = lambda df: df._jdf.queryExecution().logical().toString()  # noqa: E731
        assert "RepartitionByExpression" in plan(
            spread_small_scan(spark.read.parquet(p), "doc_id")
        )
        # same part-file name, now far above the threshold
        big = str(tmp_path / "big.parquet")
        spark.createDataFrame(
            [(i, "text " * 50) for i in range(500)], ["doc_id", "text"]
        ).coalesce(1).write.parquet(big)
        (big_part,) = [f for f in os.listdir(big) if f.endswith(".parquet")]
        os.remove(os.path.join(p, part))
        os.remove(os.path.join(p, f".{part}.crc"))
        shutil.copy(os.path.join(big, big_part), os.path.join(p, part))
        assert os.path.getsize(os.path.join(p, part)) > small + 1
        assert "RepartitionByExpression" not in plan(
            spread_small_scan(spark.read.parquet(p), "doc_id")
        )
        assert len(_SPREAD_SIZE_CACHE) == 2
    finally:
        spark.conf.unset(SPREAD_MAX_INPUT_BYTES_CONF)
