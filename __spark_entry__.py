"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2 +
training-data ops), each ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible query
(same column names and types; ratio/score outputs quantized to integers
so engine rounding can never flip a hash).

Non-SQL-expressible entries (the mapInPandas extraction core, MinHash/
SimHash signatures) intentionally omit oracle SQL — their equality gate
is the pytest suite (tests/test_pipeline_equality.py, tests/test_dedup.py)
against the single-node pandas oracle.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

SF0001 = "/root/testdata/sf0.001"


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        extract_pipeline,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        documents_as_transcripts,
    )

    out = extract_pipeline(documents_as_transcripts(spark, sf_dir))
    return out.select(
        "conv_id",
        "turn_idx",
        "extracted_text",
        "n_blocks_kept",
        "n_blocks_dropped",
        "chars_extracted",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _pin_session(spark)
    return _flagship(spark, SF0001)


def _q_extract_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction over the deterministic synthetic transcript corpus
    (all payload kinds: plain/html/pdf-layout/mangled). Non-SQL; equality
    vs the pandas oracle is enforced in pytest."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        extract_pipeline,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        gen_transcripts,
        transcripts_df,
    )

    pdf = gen_transcripts(n_convs=30, mean_turns=8, seed=42)
    out = extract_pipeline(transcripts_df(spark, pdf))
    return out.select(
        "conv_id", "turn_idx", "extracted_text", "n_blocks_kept",
        "n_blocks_dropped", "chars_extracted",
    )


SYNTH_CONVS = 30
SYNTH_MEAN_TURNS = 8
SYNTH_SEED = 42


def _q_extract_synthetic_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship extraction semantics, driver-checkable (round-3
    verdict #5): full pipeline over the deterministic synthetic corpus
    (all payload kinds — plain/html/pdf-layout/mangled), emitting a
    fixed-width per-turn fingerprint instead of the raw text. The oracle
    twin is generated at call time by the INDEPENDENT single-node pandas
    implementation (``oracle.extract_frame``) and serialized as SQL
    literals — a cross-implementation check on the non-SQL-expressible
    extraction core, mediated by the driver's hash compare."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        extract_pipeline,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        gen_transcripts,
        transcripts_df,
    )

    pdf = gen_transcripts(
        n_convs=SYNTH_CONVS, mean_turns=SYNTH_MEAN_TURNS, seed=SYNTH_SEED
    )
    out = extract_pipeline(transcripts_df(spark, pdf))
    return out.select(
        "conv_id",
        "turn_idx",
        F.md5(F.col("extracted_text").cast("binary")).alias("text_fp"),
        "n_blocks_kept",
        "n_blocks_dropped",
        "chars_extracted",
    ).orderBy("conv_id", "turn_idx")


def _extract_synthetic_fp_sql() -> str:
    """Oracle for ``extract_synthetic_fp``: run the pure pandas oracle
    (no Spark, no JVM) over the same deterministic corpus and emit its
    per-turn fingerprints as a VALUES literal. The oracle is an
    independent implementation executed fresh on every call — not a
    committed golden — so drift in either implementation fails the
    driver's hash compare."""
    import hashlib

    from ocr_pipeline_fastapi_latency_optimization_spark.oracle import extract_frame
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        gen_transcripts,
    )

    oracle = extract_frame(
        gen_transcripts(
            n_convs=SYNTH_CONVS, mean_turns=SYNTH_MEAN_TURNS, seed=SYNTH_SEED
        )
    )
    vals = ",\n".join(
        f"('{r.conv_id}', {int(r.turn_idx)}, "
        f"'{hashlib.md5(r.extracted_text.encode('utf-8')).hexdigest()}', "
        f"{int(r.n_blocks_kept)}, {int(r.n_blocks_dropped)}, "
        f"{int(r.chars_extracted)})"
        for r in oracle.itertuples(index=False)
    )
    return f"""
SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, text_fp,
       CAST(n_blocks_kept AS INTEGER) AS n_blocks_kept,
       CAST(n_blocks_dropped AS INTEGER) AS n_blocks_dropped,
       CAST(chars_extracted AS BIGINT) AS chars_extracted
FROM (VALUES
{vals}
) AS t(conv_id, turn_idx, text_fp, n_blocks_kept, n_blocks_dropped, chars_extracted)
ORDER BY conv_id, turn_idx
"""


def _q_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        stitch_conversations,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        extract_pipeline,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        documents_as_transcripts,
    )

    per_turn = extract_pipeline(documents_as_transcripts(spark, sf_dir))
    return stitch_conversations(per_turn).orderBy("conv_id")


def _q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from pyspark.sql import types as T

    from ocr_pipeline_fastapi_latency_optimization_spark.functions.tokenize import (
        classify_payload,
    )

    cls = F.pandas_udf(lambda s: s.map(classify_payload), T.StringType())

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", cls(F.col("text")).alias("kind")).orderBy("doc_id")


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        bpe_ish_token_count,
        token_count,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpeish"),
    ).orderBy("doc_id")


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        punct_ratio_e4,
        quality_score_e4,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        punct_ratio_e4(F.col("text")).alias("punct_e4"),
        quality_score_e4(F.col("text")).alias("quality_e4"),
    ).orderBy("doc_id")


def _q_quality_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-wave quality signals: mean word length and character
    entropy (gibberish detector)."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        avg_word_len_e2,
        char_entropy_e4,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ent = char_entropy_e4(docs, "doc_id", "text")
    base = docs.select(
        "doc_id", avg_word_len_e2(F.col("text")).alias("avg_word_len_e2")
    )
    return base.join(ent, "doc_id").orderBy("doc_id")


def _q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (training-data pipelines segment
    constantly): split on terminator+space (RE2-safe, no lookbehind so
    the DuckDB oracle splits identically), per-doc counts + extremes."""
    _pin_session(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sents = F.split(F.col("text"), r"[.!?]\s+")
    lens = F.transform(sents, lambda s: F.length(s))
    return docs.select(
        "doc_id",
        F.size(sents).alias("n_sentences"),
        F.array_max(lens).alias("max_sentence_chars"),
        F.array_min(lens).alias("min_sentence_chars"),
    ).orderBy("doc_id")


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        lang_id,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang_pred")
    )


def _q_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        lang_id_trigram,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(lang_id_trigram(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang_pred")
    )


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        fingerprint,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).orderBy(
        "doc_id"
    )


def _q_stringops(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        mask_token,
        sanitize_name,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # downscale factor (F5 analog, OCR.py:62-79): sqrt(budget/total)·0.99
    # capped at 1, quantized e4
    downscale = F.floor(
        F.least(
            F.sqrt(F.lit(200000.0) / F.greatest(F.col("n_chars"), F.lit(1)))
            * F.lit(0.99),
            F.lit(1.0),
        )
        * 10000
    ).cast("long")
    # F10 (ocr_app.py:1378 analog): URL-encode a download-filename. The
    # encode input is restricted to [A-Za-z0-9 ] so Java URLEncoder
    # (Spark) and percent-encoding (oracle) agree — on that alphabet the
    # only transform is space→'+', mirrored with replace() in the SQL.
    url_base = F.regexp_replace(
        F.concat(F.col("source"), F.lit(" "), F.substring("text", 1, 32)),
        "[^A-Za-z0-9 ]",
        "",
    )
    return docs.select(
        "doc_id",
        sanitize_name(
            F.concat(F.col("source"), F.lit("/"), F.substring("text", 1, 48))
        ).alias("sanitized"),
        mask_token(F.md5("text")).alias("masked"),
        F.base64(F.substring("text", 1, 24).cast("binary")).alias("b64_prefix"),
        downscale.alias("downscale_e4"),
        F.url_encode(url_base).alias("url_name"),
    ).orderBy("doc_id")


def _q_dedup_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup: extract → stitch → canonical
    fingerprint → duplicate groups. Composes the extraction pipeline
    with the dedup operators end-to-end."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        fingerprint,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        extract_pipeline,
        stitch_conversations,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        documents_as_transcripts,
    )

    stitched = stitch_conversations(
        extract_pipeline(documents_as_transcripts(spark, sf_dir))
    )
    return (
        stitched.select(
            "conv_id", fingerprint(F.col("conversation_text")).alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.min("conv_id").alias("canonical_conv"),
            F.count("*").alias("n_convs"),
        )
        .orderBy("canonical_conv")
    )


def _q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data curation funnel as one plan: quality
    gate -> language gate -> exact-dedup survivor gate, with per-stage
    survivor counts (a row per stage, monotonically non-increasing)."""
    _pin_session(spark)
    from pyspark.sql import Window as W

    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        fingerprint,
        lang_id,
        quality_score_e4,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = docs.select(
        "doc_id",
        quality_score_e4(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lp"),
        fingerprint(F.col("text")).alias("fp"),
    )
    w = W.partitionBy("fp")
    staged = staged.withColumn(
        "survivor", F.col("doc_id") == F.min("doc_id").over(w)
    )
    gates = staged.select(
        F.count("*").alias("n_input"),
        F.sum(F.when(F.col("q") >= 3000, 1).otherwise(0)).alias("n_quality"),
        F.sum(
            F.when((F.col("q") >= 3000) & (F.col("lp") == "en"), 1).otherwise(0)
        ).alias("n_lang"),
        F.sum(
            F.when(
                (F.col("q") >= 3000) & (F.col("lp") == "en") & F.col("survivor"), 1
            ).otherwise(0)
        ).alias("n_final"),
    )
    return gates


def _q_median_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via a grouped-agg pandas UDF: per-source median doc
    length (quantized x10 so the even-count interpolated median stays an
    exact integer across engines)."""
    _pin_session(spark)
    from pyspark.sql import types as T

    # Series -> scalar hints make this a grouped-agg UDF; they resolve
    # against this module's globals, hence the module-level pandas import
    @F.pandas_udf(T.DoubleType())
    def median10(s: pd.Series) -> float:
        return float(s.median()) * 10.0

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy("source")
        .agg(median10(F.col("n_chars")).cast("long").alias("median_chars_x10"))
        .orderBy("source")
    )


def _q_blocks_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        blocks_table,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        documents_as_transcripts,
    )

    return blocks_table(documents_as_transcripts(spark, sf_dir))


def _q_pivot_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy("source")
        .pivot("lang", ["en", "de", "es", "fr", "zh"])
        .count()
        .na.fill(0)
        .orderBy("source")
    )


def _q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, Greenwald-Khanna percentiles)
    — no cross-engine oracle by nature; sanity-bounded in pytest. All
    output columns are SCALAR (q25/q50/q75 via element_at, e4-floored):
    an array-typed column crashes the driver's row canonicalizer
    (round-3 verdict finding #1 — pandas cannot factorize numpy arrays),
    so this shape is what makes the entry driver-recordable at all."""
    _pin_session(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    quart = F.percentile_approx("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(10000))
    return ev.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.floor(F.element_at(quart, 1) * 10000).cast("long").alias("q25_e4"),
        F.floor(F.element_at(quart, 2) * 10000).cast("long").alias("q50_e4"),
        F.floor(F.element_at(quart, 3) * 10000).cast("long").alias("q75_e4"),
    )


# --- curation contract entries: the generated corpus contains no PII,
# no cross-document boilerplate and no bullet/ellipsis layout, so the
# bare operators would return all-zero signal columns — hash-green but
# vacuous (round-1 verdict finding #4). Each entry therefore augments a
# deterministic doc_id slice in-query (mirrored exactly in the SQL), so
# the driver exercises real positives at every SF.

PII_SUFFIX = "@example.com from 10.20.30.40 call +555-123-4567"
EVAL_SENTENCE = "the quick brown fox jumps over the lazy benchmark"
SEM_EVAL_SUFFIX = "heldout benchmark answer"
BOILER_SUFFIX = "\nSubscribe to our newsletter today\nCopyright 2026 Example Corp"
SYMBOL_SUFFIX = "\n- first bullet\n* second bullet\nto be continued...\n# note #"


def _q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit(PII_SUFFIX),
            ),
        ).otherwise(F.col("text")),
    )
    return curation.pii_mask(spark, sf_dir, docs=aug)


def _q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(BOILER_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    return curation.boilerplate_lines(spark, sf_dir, docs=aug)


def _q_symbol_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(SYMBOL_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    return curation.symbol_ratios(spark, sf_dir, docs=aug)


def _q_knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF with nprobe=2 — the recall lever as its own
    driver-checked entry (round-2 verdict #7 follow-through: recall
    numbers are pinned in pytest; this makes the multi-probe PLAN
    hash-verified too)."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import similarity

    return similarity.ivf_knn(spark, sf_dir, nprobe=2)


def _q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc leakage report over a planted THREE-CLASS eval set
    (non-vacuous at every SF): suffix paraphrases of every 13th doc
    (shared 8-grams survive AND the embedding stays near — 'both' for
    typical lengths), WORD-REVERSED copies of every 17th doc (reversal
    destroys every 8-gram of a non-palindromic ≥8-word doc while the
    bag-of-tokens embedding is IDENTICAL — cosine exactly 10⁶,
    'semantic_only'; the class n-gram matching cannot catch), and one
    unrelated sentence ('clean'). Reversal and concatenation are exact
    in both engines, so every class boundary is deterministic."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    para = docs.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" " + SEM_EVAL_SUFFIX)).alias("text"),
    )
    rev = docs.filter(
        (F.col("doc_id") % 17 == 0) & (F.col("doc_id") % 13 != 0)
    ).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
    )
    clean = spark.createDataFrame(
        [(-1, EVAL_SENTENCE)], "doc_id long, text string"
    )
    ev = para.unionByName(rev).unionByName(clean)
    return curation.contamination_report(spark, sf_dir, eval_docs=ev)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination vs a one-sentence synthetic eval set.
    The generated corpus shares no 8-grams with the sentence, so (per
    the round-1 non-vacuous rule) a deterministic doc_id slice gets the
    sentence appended in-query, mirrored exactly in the SQL — planted
    positives at every SF."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" " + EVAL_SENTENCE)),
        ).otherwise(F.col("text")),
    )
    ev = spark.createDataFrame(
        [("e0", EVAL_SENTENCE)], "eval_id string, text string"
    )
    return curation.decontaminate(spark, sf_dir, eval_docs=ev, docs=aug)


def _q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination vs a synthetic eval set built as
    PARAPHRASE analogs: every 13th training doc's text with a short
    suffix appended (the embedding moves by ~3 token vectors — cosine
    ≈ √(T/(T+3)), above the 0.95 near-dup threshold for typical doc
    lengths, below it for very short docs; both engines agree either
    way since the integer-sum kernel and band keys are bit-equal),
    plus one unrelated standalone sentence exercising the
    no-candidates eval path. Exact 8-gram matching would ALSO catch
    these suffix-planted docs — the semantic operator's value is the
    threshold being on embedding cosine, which survives edits that
    break every shared 8-gram; the planted construction just needs
    deterministic positives at every SF (round-1 non-vacuous rule)."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" " + SEM_EVAL_SUFFIX)).alias(
                "text"
            ),
        )
        .unionByName(
            spark.createDataFrame(
                [(-1, EVAL_SENTENCE)], "doc_id long, text string"
            )
        )
    )
    return curation.semantic_decontaminate(spark, sf_dir, eval_docs=ev)


def _q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups over the corpus plus a deterministic planted
    slice (every 50th doc re-ingested under a shifted id): the raw
    driver corpus has no exact duplicates at sf0.01, so the bare operator
    would return 0 rows — a vacuously-green hash match (round-1 verdict
    finding #4). Planting keeps the check non-empty at every SF while the
    operator itself stays pure."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    planted = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return dedup.exact_duplicate_groups_df(docs.unionByName(planted))


def _q_incremental_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing over the corpus plus the planted re-ingest
    slice (same construction as the bloom driver query): the planted
    docs contain their originals fully (contain_e4 = 10000), so the
    driver exercises real pair rows at every SF."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    planted = docs.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < dedup.INGEST_BOUNDARY)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    return dedup.incremental_winnowing_overlap(
        spark, sf_dir, docs=docs.unionByName(planted)
    )


def _q_bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom probe over the corpus plus a planted re-ingest slice: every
    50th EXISTING doc re-arrives in the batch under a shifted id, so the
    driver exercises both verdicts — 'dup_candidate' (the planted slice;
    the raw corpus has no cross-boundary duplicates at sf0.01) and 'new'
    (everything else). Mirrored exactly in the SQL twin."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    planted = docs.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < dedup.INGEST_BOUNDARY)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    return dedup.bloom_dedup_probe(
        spark, sf_dir, docs=docs.unionByName(planted)
    )


# --- MinHash / SimHash DuckDB oracles: the md5-based hashes are exactly
# replicable in SQL once hex→int exists; this 60-bit kernel mirrors
# Spark's conv(substring(md5(x),1,15),16,10) with pure integer arithmetic
# (powers of 16 exceed 2^53, so each term must be a BIGINT, never DOUBLE)


def _ingest_boundary() -> int:
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        INGEST_BOUNDARY,
    )

    return INGEST_BOUNDARY


def _hex60_sql(h: str) -> str:
    return (
        "list_sum(list_transform(generate_series(1,15), i -> "
        f"CAST(strpos('0123456789abcdef', substr({h}, i, 1)) - 1 AS BIGINT) * "
        "(CAST(1 AS BIGINT) << CAST(4*(15-i) AS INTEGER))))"
    )


def _minhash_buckets_sql() -> str:
    """CTE chain ending in ``buckets(doc_id, band, bucket)`` — the exact
    SQL twin of dedup.minhash_signatures(hash_fn='md5_affine') +
    banding."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_PERMS,
        _MASK31,
        _MERSENNE31,
        _affine_consts,
    )

    consts = _affine_consts(MINHASH_PERMS)
    rows = MINHASH_PERMS // MINHASH_BANDS
    M31 = _MERSENNE31  # Carter-Wegman modulus, shared with the Spark side
    mins = ", ".join(
        f"min(({a} * b + {b_}) % {M31}) AS h{p}" for p, (a, b_) in enumerate(consts)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + ")) AS bucket FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 4, 0)),
                               i -> array_to_string(w[i:i+4], ' '))) AS shingle
  FROM words),
base AS (SELECT doc_id, ({_hex60_sql('md5(shingle)')} & {_MASK31}) AS b FROM sh),
sig AS (SELECT doc_id, {mins} FROM base GROUP BY doc_id),
buckets AS ({band_selects})"""


def _minhash_pairs_sql() -> str:
    return (
        "WITH "
        + _minhash_buckets_sql()
        + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""
    )


def _incremental_minhash_sql() -> str:
    """SQL twin of dedup.incremental_minhash_dedup: new docs probed
    against the existing corpus's (band, bucket) index. The ingest
    boundary is interpolated from the shared module constant (round-3
    ADVICE #6) so the twins cannot desynchronize if the default moves."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        INGEST_BOUNDARY,
    )

    return (
        "WITH "
        + _minhash_buckets_sql()
        + f""",
existing AS (SELECT DISTINCT band, bucket FROM buckets WHERE doc_id < {INGEST_BOUNDARY}),
newb AS (SELECT DISTINCT doc_id, band, bucket FROM buckets WHERE doc_id >= {INGEST_BOUNDARY}),
dup AS (SELECT DISTINCT n.doc_id FROM newb n JOIN existing e USING (band, bucket)),
alln AS (SELECT DISTINCT doc_id FROM newb)
SELECT doc_id,
       CASE WHEN doc_id IN (SELECT doc_id FROM dup)
            THEN 'near_dup_candidate' ELSE 'new' END AS verdict
FROM alln ORDER BY doc_id
"""
    )


def _cc_cte() -> str:
    """Shared CTE chain ending in ``cc(node, cluster_id)`` — connected
    components over the MinHash-LSH candidate pairs as a recursive
    reachability closure + min-label fold, the DuckDB twin of
    dedup.connected_components."""
    return (
        "WITH RECURSIVE "
        + _minhash_buckets_sql()
        + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.d AS node, reach.r FROM reach JOIN sym e ON e.s = reach.node),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)"""
    )


def _dedup_clusters_sql() -> str:
    return (
        _cc_cte()
        + """,
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM cc GROUP BY cluster_id)
SELECT node AS doc_id, cluster_id, (node = cluster_id) AS survivor, cluster_size
FROM cc JOIN sizes USING (cluster_id) ORDER BY doc_id
"""
    )


def _near_dedup_corpus_sql() -> str:
    """SQL twin of dedup.near_dedup_corpus: the per-document keep/drop
    verdict over the whole corpus."""
    return (
        _cc_cte()
        + """
SELECT d.doc_id,
       COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
       (cc.node IS NULL OR cc.node = cc.cluster_id) AS keep
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
ORDER BY d.doc_id
"""
    )


def _blocklist_filter_sql() -> str:
    """SQL twin of curation.blocklist_filter over the default sandbox
    list — the list is interpolated from the module constant so the
    twins cannot desynchronize if it moves."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        DEFAULT_BLOCKLIST,
    )

    inlist = ", ".join(f"'{w}'" for w in sorted(set(DEFAULT_BLOCKLIST)))
    return f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
c AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(w, x -> list_contains([{inlist}], x)))
                  AS BIGINT) AS n_blocked
      FROM t)
SELECT doc_id, n_tokens, n_blocked,
       CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((n_blocked * 10000) // n_tokens AS BIGINT) END
         AS blocked_ratio_e4,
       (n_blocked = 0) AS keep
FROM c ORDER BY doc_id
"""


def _minhash_jaccard_estimates_sql() -> str:
    """SQL twin of dedup.minhash_jaccard_estimates: the shared
    buckets/sig/sh CTEs, a 32-term CASE agreement sum per candidate
    pair, and the exact intersection triple."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        MINHASH_PERMS,
    )

    agree = " + ".join(
        f"(CASE WHEN sa.h{p} = sb.h{p} THEN 1 ELSE 0 END)"
        for p in range(MINHASH_PERMS)
    )
    return (
        "WITH "
        + _minhash_buckets_sql()
        + f""",
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
est AS (
  SELECT c.doc_a, c.doc_b,
         CAST((({agree}) * 10000) // {MINHASH_PERMS} AS BIGINT)
           AS est_jaccard_e4
  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
              JOIN sig sb ON sb.doc_id = c.doc_b),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b)
SELECT e.doc_a, e.doc_b, e.est_jaccard_e4,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST((COALESCE(i.n_inter, 0) * 10000)
            // (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)) AS BIGINT)
         AS exact_jaccard_e4
FROM est e LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes sa ON sa.doc_id = e.doc_a
JOIN sizes sb ON sb.doc_id = e.doc_b
ORDER BY e.doc_a, e.doc_b
"""
    )


def _verified_near_dedup_sql() -> str:
    """SQL twin of dedup.verified_near_dedup: LSH candidates, the exact
    integer Jaccard criterion applied to candidates only (shingle
    equi-join restricted through the candidate list), then the shared
    recursive reachability closure over VERIFIED pairs and the
    per-document verdict."""
    return (
        "WITH RECURSIVE "
        + _minhash_buckets_sql()
        + """,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE 9 * i.n_inter >= 4 * (sa.n_sh + sb.n_sh)),
sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.d AS node, reach.r FROM reach JOIN sym e ON e.s = reach.node),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
       (cc.node IS NULL OR cc.node = cc.cluster_id) AS keep
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
ORDER BY d.doc_id
"""
    )


def _incremental_verified_dedup_sql() -> str:
    """SQL twin of dedup.incremental_verified_dedup: boundary-split
    candidate edges, the exact integer Jaccard criterion per edge, and
    the honest new/near_dup verdict (rejected candidates are 'new')."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        INGEST_BOUNDARY,
    )

    return (
        "WITH "
        + _minhash_buckets_sql()
        + f""",
newb AS (SELECT DISTINCT doc_id, band, bucket FROM buckets
         WHERE doc_id >= {INGEST_BOUNDARY}),
oldb AS (SELECT DISTINCT doc_id, band, bucket FROM buckets
         WHERE doc_id < {INGEST_BOUNDARY}),
cand AS (SELECT DISTINCT n.doc_id AS doc_n, o.doc_id AS doc_o
         FROM newb n JOIN oldb o USING (band, bucket)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_n, c.doc_o, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_n
  JOIN sh b ON b.doc_id = c.doc_o AND b.shingle = a.shingle
  GROUP BY c.doc_n, c.doc_o),
ver AS (SELECT DISTINCT i.doc_n AS doc_id
        FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_n
                     JOIN sizes sb ON sb.doc_id = i.doc_o
        WHERE 9 * i.n_inter >= 4 * (sa.n_sh + sb.n_sh)),
alln AS (SELECT DISTINCT doc_id FROM newb)
SELECT doc_id,
       CASE WHEN doc_id IN (SELECT doc_id FROM ver)
            THEN 'near_dup' ELSE 'new' END AS verdict
FROM alln ORDER BY doc_id
"""
    )


def _quality_aware_dedup_sql() -> str:
    """SQL twin of dedup.quality_aware_dedup: the shared recursive-CC
    chain, then per-cluster argmax-quality representative selection
    (max length, ties to the smallest doc_id) as two bounded
    aggregates — the same algebra as the Spark plan."""
    return (
        _cc_cte()
        + """,
lab AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
         CAST(length(d.text) AS BIGINT) AS quality
  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
mq AS (SELECT cluster_id, max(quality) AS mq FROM lab GROUP BY cluster_id),
rep AS (SELECT l.cluster_id, CAST(min(l.doc_id) AS BIGINT) AS kept_doc
        FROM lab l JOIN mq USING (cluster_id)
        WHERE l.quality = mq.mq GROUP BY l.cluster_id)
SELECT l.doc_id, l.cluster_id, l.quality, r.kept_doc,
       (l.doc_id = r.kept_doc) AS keep
FROM lab l JOIN rep r USING (cluster_id)
ORDER BY l.doc_id
"""
    )


def _temperature_mixture_sql() -> str:
    """SQL twin of curation.temperature_mixture: isqrt source weights
    (IEEE sqrt is correctly rounded, so FLOOR(SQRT(n)) is engine-exact
    for n < 2^52), then the integer binding-constraint algebra and the
    shared hash grid."""
    cell = _hex60_sql("md5(CAST(doc_id AS VARCHAR))")
    return f"""
WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             FROM documents GROUP BY source),
w AS (SELECT source, n,
             CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM cnt),
s AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM w),
t AS (SELECT min(n * wsum // w) AS tmax FROM w, s),
rates AS (SELECT source, ((w * tmax // wsum) * 10000) // n AS rate_e4
          FROM w, s, t)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE ({cell}) % 10000 < r.rate_e4
ORDER BY d.doc_id
"""


def _vocab_coverage_sql() -> str:
    """SQL twin of curation.vocab_coverage: the count-of-counts
    cumulative walk — window only over the bounded histogram, integer
    ceil-division for the within-group rank. Scalar sums are cast back
    from DuckDB's HUGEINT promotion; min/max keep BIGINT."""
    return """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents),
tc AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
coc AS (SELECT c, CAST(count(*) AS BIGINT) AS k FROM tc GROUP BY c),
cum AS (SELECT c, k, c * k AS mass,
               CAST(sum(c * k) OVER (ORDER BY c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_mass,
               CAST(sum(k) OVER (ORDER BY c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_k
        FROM coc),
tot AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM cum),
ps AS (SELECT unnest([50, 90, 95, 99]::BIGINT[]) AS p),
g AS (SELECT p, c, k, mass, cum_mass, cum_k, total,
             (total * p + 99) // 100 AS thresh
      FROM cum, tot, ps)
SELECT p,
       min(cum_k - k + ((thresh - (cum_mass - mass)) + c - 1) // c)
         AS vocab_size,
       max(thresh) AS threshold_occ,
       max(total) AS total_occ
FROM g WHERE cum_mass >= thresh AND cum_mass - mass < thresh
GROUP BY p ORDER BY p
"""


def _cluster_safe_split_sql() -> str:
    """SQL twin of curation.cluster_safe_split: the recursive-CC chain
    (shared ``_cc_cte``), then the dataset_split hash grid keyed on the
    CLUSTER id instead of the doc id. Bounds come from the module."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        SPLIT_BOUNDS,
    )

    cell = _hex60_sql("md5(CAST(cluster_id AS VARCHAR))")
    return (
        _cc_cte()
        + f""",
lab AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
g AS (SELECT doc_id, cluster_id, ({cell}) % 10000 AS cell FROM lab)
SELECT doc_id, cluster_id,
       CASE WHEN cell < {SPLIT_BOUNDS[0]} THEN 'train'
            WHEN cell < {SPLIT_BOUNDS[1]} THEN 'val' ELSE 'test' END AS split
FROM g ORDER BY doc_id
"""
    )


def _funnel_full_sql() -> str:
    """DuckDB twin of curation.curation_funnel_full. The extraction
    stage over the documents source is passthrough (the proven
    extract_documents oracle), so the funnel's SQL runs the gates over
    the same per-turn frame; quality/lang/fingerprint expressions are
    the exact proven kernels from the curation_funnel / lang_id /
    doc_fingerprints oracles, applied to extracted_text."""
    q = """CAST(floor((
        0.4 * least(length(extracted_text) / 2000.0, 1.0)
      + 0.5 * (CASE WHEN length(extracted_text) = 0 THEN 0.0 ELSE len(regexp_extract_all(extracted_text, '[A-Za-z]')) * 1.0 / length(extracted_text) END)
      + 0.1 * (1.0 - least((CASE WHEN length(extracted_text) = 0 THEN 1.0 ELSE len(regexp_extract_all(extracted_text, '[.,;:!?''"()\\[\\]{}<>/\\\\|@#$%^&*+=~`-]')) * 1.0 / length(extracted_text) END) * 5.0, 1.0))
    ) * 10000.0) AS BIGINT)"""
    cell_hash = _hex60_sql("md5(conv_id || ':' || CAST(turn_idx AS VARCHAR))")
    return f"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text AS extracted_text
  FROM documents),
c AS (
  SELECT conv_id, turn_idx, extracted_text,
    len(regexp_extract_all(lower(extracted_text), '\\b(the|and|of|to|in|is)\\b')) AS en,
    len(regexp_extract_all(lower(extracted_text), '\\b(der|die|das|und|ist|nicht)\\b')) AS de,
    len(regexp_extract_all(lower(extracted_text), '\\b(el|la|de|que|y|los)\\b')) AS es,
    len(regexp_extract_all(lower(extracted_text), '\\b(le|la|et|les|des|une)\\b')) AS fr
  FROM t),
staged AS (
  SELECT conv_id, turn_idx,
         {q} AS q,
         CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
              WHEN en = greatest(en, de, es, fr) THEN 'en'
              WHEN de = greatest(en, de, es, fr) THEN 'de'
              WHEN es = greatest(en, de, es, fr) THEN 'es'
              ELSE 'fr' END AS lp,
         md5(trim(regexp_replace(lower(extracted_text), '\\s+', ' ', 'g'))) AS fp
  FROM c),
gated AS (SELECT * FROM staged WHERE q >= 3000 AND lp = 'en'),
surv AS (
  SELECT conv_id, turn_idx,
         row_number() OVER (PARTITION BY fp ORDER BY conv_id, turn_idx) AS rn
  FROM gated),
cells AS (
  SELECT ({cell_hash}) % 10000 AS cell
  FROM surv WHERE rn = 1)
SELECT CASE WHEN cell < 9000 THEN 'train'
            WHEN cell < 9500 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n
FROM cells GROUP BY split ORDER BY split
"""


def _simhash_pairs_sql() -> str:
    """SQL twin of dedup.simhash_near_dup_pairs: per-token 60-bit md5
    hash, ±1 bit accumulation, sign-packing, 4×15-bit banding, exact
    Hamming verify. Docs with no tokens get signature 0 (matching
    simhash60_py(''))."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        SIMHASH_BANDS,
        SIMHASH_RADIUS,
    )

    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * 15}) & 32767 AS key FROM sig2"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> length(t) > 0)) AS tok
  FROM documents),
th AS (SELECT doc_id, {_hex60_sql('md5(tok)')} AS h FROM toks),
bits AS (
  SELECT doc_id, bs.bit,
         sum(CASE WHEN (h >> bs.bit) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bs
  GROUP BY doc_id, bs.bit),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                  ELSE CAST(0 AS BIGINT) END) AS simhash
  FROM bits GROUP BY doc_id),
sig2 AS (
  SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
  FROM documents d LEFT JOIN sig s USING (doc_id)),
buckets AS ({band_selects})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_RADIUS}
ORDER BY doc_a, doc_b
"""


def _kmeans_cos_sql(v_emb: str, v_nrm: str, c_emb: str, c_nrm: str) -> str:
    """Quantized-cosine fragment shared by the unrolled k-means twins —
    same zero-guard + e6 floor as similarity.cosine_e6."""
    dot = (
        f"list_sum(list_transform(list_zip({v_emb}, {c_emb}), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return (
        f"CASE WHEN {v_nrm} * {c_nrm} = 0 THEN 0 "
        f"ELSE CAST(floor({dot} / ({v_nrm} * {c_nrm}) * 1000000.0) AS BIGINT) END"
    )


def _kmeans_aa_ctes(
    pre_ctes: str = "", src: str = "embeddings", id_col: str = "vec_id",
    n_centroids: int | None = None, train_where: str = "",
) -> str:
    """Unrolled sampled-k-means CTE chain (same seeds, same
    per-row-quantized means, same empty-cluster carry-over as
    similarity.kmeans_centroids) ending in ``aa(vec_id, embedding, nrm,
    centroid_id, rn)`` — EVERY vector ranked against every refined
    centroid (rn = 1 is the argmax ``_assign`` returns; rn ≤ n is the
    soft top-n membership). Shared by the IVF probe twins and the
    unlabeled clustered-centering dedup twin. Returned WITHOUT a
    leading ``WITH`` so callers pick plain vs RECURSIVE.
    ``train_where`` restricts the TRAINING population (sample + seeds)
    — the incremental twins freeze the quantizer at the pre-boundary
    corpus while still assigning every vector through ``aa``."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.similarity import (
        IVF_CENTROIDS,
        KMEANS_PASSES,
        KMEANS_SAMPLE_MOD,
        LSH_DIM,
    )

    cos = _kmeans_cos_sql
    if n_centroids is None:
        n_centroids = IVF_CENTROIDS
    train_and = f" AND ({train_where})" if train_where else ""
    parts = [
        f"""{pre_ctes}e AS (SELECT {id_col} AS vec_id, embedding, {_COS_NORM} AS nrm FROM {src}),
s AS (SELECT * FROM e WHERE vec_id % {KMEANS_SAMPLE_MOD} = 0{train_and}),
c0 AS (SELECT vec_id AS centroid_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb, nrm AS c_nrm
       FROM e WHERE vec_id < {n_centroids}{train_and})"""
    ]
    prev = "c0"
    for p in range(1, KMEANS_PASSES + 1):
        score = cos("v.embedding", "v.nrm", "c.c_emb", "c.c_nrm")
        parts.append(
            f""",
a{p} AS (
  SELECT v.vec_id, v.embedding, c.centroid_id,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY {score} DESC, c.centroid_id ASC) AS rn
  FROM s v CROSS JOIN {prev} c),
asgn{p} AS (SELECT vec_id, embedding, centroid_id FROM a{p} WHERE rn = 1),
dims{p} AS (
  -- per-ROW e6 quantization before the sum: integer sums are
  -- aggregation-order independent, so this mean can never flip vs Spark
  SELECT centroid_id, d.d AS dim,
         CAST(floor(sum(CAST(floor(CAST(embedding[d.d] AS DOUBLE) * 1000000) AS BIGINT)) * 1.0 / count(*)) AS DOUBLE) / 1000000.0 AS m
  FROM asgn{p} CROSS JOIN (SELECT unnest(generate_series(1, {LSH_DIM})) AS d) d
  GROUP BY centroid_id, d.d),
newc{p} AS (SELECT centroid_id, list(m ORDER BY dim) AS c_emb FROM dims{p} GROUP BY centroid_id),
c{p} AS (
  SELECT c.centroid_id, COALESCE(n.c_emb, c.c_emb) AS c_emb,
         sqrt(list_sum(list_transform(COALESCE(n.c_emb, c.c_emb), x -> x * x))) AS c_nrm
  FROM {prev} c LEFT JOIN newc{p} n USING (centroid_id))"""
        )
        prev = f"c{p}"
    assign_score = cos("v.embedding", "v.nrm", "c.c_emb", "c.c_nrm")
    parts.append(
        f""",
aa AS (
  SELECT v.vec_id, v.embedding, v.nrm, c.centroid_id,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY {assign_score} DESC, c.centroid_id ASC) AS rn
  FROM e v CROSS JOIN {prev} c)"""
    )
    return "".join(parts)


def _ivf_oracle_sql(
    nprobe: int = 1, pre_ctes: str = "", src: str = "embeddings",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of similarity.ivf_knn(train=True): unrolled sampled
    k-means passes (same seeds, same per-row-quantized means, same
    empty-cluster carry-over), then bucket-probe top-k. ``nprobe > 1``
    fans each query out to its n best centroids (the recall lever) while
    corpus vectors stay in exactly one bucket — candidates never
    duplicate, mirroring similarity.ivf_knn. ``pre_ctes``/``src``/
    ``id_col`` feed a COMPUTED embedding CTE (the text twin) through the
    identical machinery."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.similarity import (
        DEFAULT_K,
        DEFAULT_QUERIES,
    )

    probe_score = _kmeans_cos_sql("q.embedding", "q.nrm", "b.embedding", "b.nrm")
    parts = [
        "\nWITH ",
        _kmeans_aa_ctes(pre_ctes=pre_ctes, src=src, id_col=id_col),
    ]
    parts.append(
        f""",
buckets AS (SELECT vec_id, embedding, nrm, centroid_id AS bucket FROM aa WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding, nrm, centroid_id AS bucket
      FROM aa WHERE vec_id < {DEFAULT_QUERIES} AND rn <= {int(nprobe)}),
scored AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id, {probe_score} AS score_e6
  FROM q JOIN buckets b ON b.bucket = q.bucket AND b.vec_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, score_e6,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_e6 DESC, neighbor_id ASC) AS INTEGER) AS rnk
  FROM scored)
SELECT query_id, neighbor_id, rnk, score_e6 FROM ranked WHERE rnk <= {DEFAULT_K}
ORDER BY query_id, rnk
"""
    )
    return "".join(parts)


def _lsh_bands_cte(
    src: str = "embeddings",
    id_col: str = "vec_id",
    planes: list | None = None,
    bands: int | None = None,
) -> str:
    """Shared CTE chain ending in ``bands(vec_id, embedding, nrm, band,
    key)`` — the hyperplane-LSH banding used by the cosine pair oracle,
    the semantic-dedup oracle, and the incremental-cosine oracle.
    ``src``/``id_col`` let the text-embedding twin band a COMPUTED
    (doc_id, embedding) CTE through the identical machinery;
    ``planes``/``bands`` select the hash family (default: the 16-plane
    fixture family; the text twins use the auto-config CTE below).

    Cross-engine sign assumption (round-5 ADVICE #4, shared with
    ``_text_lsh_auto_cte``): Spark computes the plane dot products with
    a numpy BLAS matmul, DuckDB with this sequential ``list_sum`` fold —
    different accumulation orders. A dot product landing within one ULP
    of 0.0 could therefore band differently per engine and change the
    CANDIDATE set (never a verified score — the exact verify is
    quantized at 10⁻⁶ and order-robust). With seeded continuous-valued
    hyperplanes and integer-sum embeddings, an exactly-boundary dot
    product has measure ≈ 0; every oracle row at all three SFs has
    matched across 6 rounds. If it ever fires, the symptom is a
    one-pair candidate diff at one SF — requantize the dot (floor at a
    coarse epsilon before the sign) in BOTH engines to close it."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.similarity import (
        LSH_BANDS,
        _PLANES,
    )

    planes = _PLANES if planes is None else planes
    bands = LSH_BANDS if bands is None else bands
    bit_exprs = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(w) for w in plane) + "]"
        bit_exprs.append(
            f"CASE WHEN list_sum(list_transform(list_zip(embedding, {lit}), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0 THEN 1 ELSE 0 END AS bit{i}"
        )
    per_band = len(planes) // bands
    band_selects = []
    for b in range(bands):
        key = " + ".join(
            f"bit{b * per_band + r} * {2 ** (per_band - 1 - r)}"
            for r in range(per_band)
        )
        band_selects.append(
            f"SELECT vec_id, embedding, nrm, {b} AS band, {key} AS key FROM sig"
        )
    return f"""e AS (SELECT {id_col} AS vec_id, embedding, {_COS_NORM} AS nrm FROM {src}),
sig AS (SELECT vec_id, embedding, nrm, {", ".join(bit_exprs)} FROM e),
bands AS ({" UNION ALL ".join(band_selects)})"""


def _lsh_oracle_sql() -> str:
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.similarity import (
        NEAR_DUP_THRESHOLD_E6,
    )

    dot = (
        "list_sum(list_transform(list_zip(ea, eb), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
WITH {_lsh_bands_cte()},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS ea, b.embedding AS eb, a.nrm AS na, b.nrm AS nb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       CAST(floor({dot} / (na * nb) * 1000000.0) AS BIGINT) AS score_e6
FROM cand
WHERE CAST(floor({dot} / (na * nb) * 1000000.0) AS BIGINT) >= {NEAR_DUP_THRESHOLD_E6}
ORDER BY id_a, id_b
"""


def _incremental_cosine_sql() -> str:
    """SQL twin of similarity.incremental_cosine_dedup: new embeddings
    (vec_id >= the shared INGEST_BOUNDARY) collect band-bucket
    collisions against the existing corpus's hyperplane index, then
    every candidate pair is verified with the exact quantized cosine —
    the embedding-side member of the incremental-ingest family
    (exact fp / minhash / cosine), both probe halves in one query."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        INGEST_BOUNDARY,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.similarity import (
        NEAR_DUP_THRESHOLD_E6,
    )

    return f"""
WITH {_lsh_bands_cte()},
existing AS (SELECT DISTINCT vec_id AS evec, band, key FROM bands WHERE vec_id < {INGEST_BOUNDARY}),
newb AS (SELECT DISTINCT vec_id, band, key FROM bands WHERE vec_id >= {INGEST_BOUNDARY}),
pairs AS (SELECT DISTINCT n.vec_id, x.evec FROM newb n JOIN existing x USING (band, key)),
sc AS (
  SELECT p.vec_id, {_cos_e6('a', 'b')} AS s
  FROM pairs p JOIN e a ON a.vec_id = p.vec_id JOIN e b ON b.vec_id = p.evec),
dup AS (SELECT DISTINCT vec_id FROM sc WHERE s >= {NEAR_DUP_THRESHOLD_E6}),
alln AS (SELECT DISTINCT vec_id FROM newb)
SELECT vec_id,
       CASE WHEN vec_id IN (SELECT vec_id FROM dup)
            THEN 'near_dup' ELSE 'new' END AS verdict
FROM alln ORDER BY vec_id
"""


_QUALITY_Q_SQL = """CAST(floor((
        0.4 * least(length(text) / 2000.0, 1.0)
      + 0.5 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / length(text) END)
      + 0.1 * (1.0 - least((CASE WHEN length(text) = 0 THEN 1.0 ELSE len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}<>/\\\\|@#$%^&*+=~`-]')) * 1.0 / length(text) END) * 5.0, 1.0))
    ) * 10000.0) AS BIGINT)"""


def _quality_threshold_sql() -> str:
    """SQL twin of curation.quality_threshold_filter: same (source, q)
    histogram, same integer order-statistic threshold (k = (N·frac) div
    10⁴; threshold = smallest q with cumulative count ≥ k), same
    drop-ties-at-the-boundary rule. The frac constant is interpolated
    from the operator module so the twins can never desynchronize."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        THRESHOLD_FRAC_E4,
    )

    return f"""
WITH scored AS (
  SELECT doc_id, source, {_QUALITY_Q_SQL} AS q FROM documents),
hist AS (SELECT source, q, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY source, q),
cum AS (SELECT source, q,
               sum(c) OVER (PARTITION BY source ORDER BY q) AS cum,
               sum(c) OVER (PARTITION BY source) AS n
        FROM hist),
thr AS (
  SELECT source, min(q) AS threshold_q
  FROM cum
  WHERE (n * {THRESHOLD_FRAC_E4}) // 10000 > 0
    AND cum >= (n * {THRESHOLD_FRAC_E4}) // 10000
  GROUP BY source)
SELECT s.doc_id, s.source, s.q,
       COALESCE(th.threshold_q, -1) AS threshold_q,
       (s.q > COALESCE(th.threshold_q, -1)) AS kept
FROM scored s LEFT JOIN thr th USING (source)
ORDER BY s.doc_id
"""


def _semantic_dedup_sql() -> str:
    """SQL twin of similarity.semantic_dedup_corpus: the proven
    cosine-LSH pair oracle nested as a CTE, then the same recursive
    reachability + min-label fold the text-side components oracle uses,
    then the per-vector keep/drop verdict."""
    return f"""
WITH RECURSIVE pairs AS ({_lsh_oracle_sql()}),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.d AS node, reach.r FROM reach JOIN sym e ON e.s = reach.node),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT v.vec_id,
       COALESCE(cc.cluster_id, v.vec_id) AS cluster_id,
       (cc.node IS NULL OR cc.node = cc.cluster_id) AS keep
FROM embeddings v LEFT JOIN cc ON cc.node = v.vec_id
ORDER BY v.vec_id
"""


def _embed_sums_cte(src: str = "documents", suffix: str = "") -> str:
    """CTE chain ending in ``esum{suffix}(doc_id, n_tokens, s0..s63)``
    — the exact SQL twin of embedding.embed_sums: per whitespace token
    one md5→31-bit base, per dimension an affine permutation of that
    base centered at 0, summed as INTEGERS (order-independent, so the
    two engines cannot disagree). ``src``/``suffix`` let a twin embed a
    second frame (the semantic-decontamination eval side) with the
    identical kernel."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        _MASK31,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        EMBED_DIM,
        _CENTER,
        _embed_consts,
    )

    # NB: bitwise & binds LOOSER than - in DuckDB (PostgreSQL rules) —
    # the inner mask term must be fully parenthesized
    sums = ", ".join(
        f"sum(((b * {a} + {b_}) & {_MASK31}) - {_CENTER}) AS s{d}"
        for d, (a, b_) in enumerate(_embed_consts(EMBED_DIM))
    )
    x = suffix
    return f"""tok{x} AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM {src}),
tbase{x} AS (SELECT doc_id, ({_hex60_sql('md5(tok)')} & {_MASK31}) AS b
             FROM tok{x}),
esum{x} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, {sums}
            FROM tbase{x} GROUP BY doc_id)"""


def _embed_documents_sql() -> str:
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        EMBED_DIM,
    )

    cols = ", ".join(f"CAST(s{d} AS VARCHAR)" for d in range(EMBED_DIM))
    return f"""
WITH {_embed_sums_cte()}
SELECT doc_id, n_tokens, md5(concat_ws(',', {cols})) AS emb_fp
FROM esum ORDER BY doc_id
"""


def _cent_ue_ctes(suffix: str = "") -> str:
    """``cent{suffix}`` / ``ue{suffix}`` over ``esum{suffix}``,
    centered by the SHARED corpus ``csum`` — the second-frame half of
    the centering machinery: a probe/eval frame adopts the CORPUS's
    centering statistic (exactly as the Spark side passes the corpus
    ``totals`` into ``centered_band_buckets`` for the probe frame — an
    eval-derived center would desync sign bits between the two
    sides)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        EMBED_DIM,
    )

    # DOUBLE product mirroring the Spark side exactly: the identical
    # IEEE-754 sequence round(n·s) − t in both engines, so band keys
    # are bit-equal; the overflow-prone corpus totals stay HUGEINT
    # (DuckDB sum) / decimal (Spark sum)
    carr = ", ".join(
        f"(CAST(n AS DOUBLE) * CAST(s{d} AS DOUBLE) - CAST(t{d} AS DOUBLE))"
        for d in range(EMBED_DIM)
    )
    rarr = ", ".join(f"CAST(s{d} AS DOUBLE)" for d in range(EMBED_DIM))
    x = suffix
    return f"""cent{x} AS (SELECT doc_id, [{carr}] AS embedding FROM esum{x}, csum),
ue0{x} AS (SELECT doc_id AS vec_id, [{rarr}] AS embedding FROM esum{x}),
ue{x} AS (SELECT vec_id, embedding, {_COS_NORM} AS nrm FROM ue0{x})"""


def _text_center_ctes(where: str = "") -> str:
    """CTE fragment: ``csum`` (centering totals over ``esum``,
    optionally boundary-filtered) and ``cent`` (the division-free
    centered vectors n·s_d − t_d as doubles) plus ``ue`` (the RAW
    vectors with norms for the exact verify). Mirrors
    embedding.embed_totals / centered_band_buckets exactly, including
    the greatest(n,1)/coalesce empty-corpus guards."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        EMBED_DIM,
    )

    tsums = ", ".join(
        f"coalesce(sum(s{d}), 0) AS t{d}" for d in range(EMBED_DIM)
    )
    return f"""csum AS (SELECT CAST(greatest(count(*), 1) AS BIGINT) AS n, {tsums}
         FROM esum {where}),
{_cent_ue_ctes()}"""


def _text_lsh_auto_cte(where_n: str = "") -> str:
    """CTE chain ending in ``bands(vec_id, band, key)`` — the
    AUTO-SIZED text hyperplane family (embedding.auto_text_family):
    ``nb`` counts the banded population (esum rows, optionally
    boundary-filtered — the same count the Spark side takes on its
    checkpointed sums frame), ``cfg`` picks the per-band bit width by
    the identical integer rule (smallest bits with
    2^bits·TARGET_BUCKET ≥ n), ``sig`` computes sign bits for the
    WIDEST enumerated family once, and ``bands`` assembles each
    config's keys guarded by ``cfg.bits`` — only the selected config
    produces rows. Enumerates bits 8–12 (corpora ≤ 2¹²·16 = 65,536
    banded docs — ample for every oracle scale; the Python rule
    continues past it, see the sizing note in operators/embedding.py).
    Sign bits come from the centered vectors (``cent``); the
    BLAS-vs-list_sum sign assumption is documented on
    ``_lsh_bands_cte``."""
    return _text_lsh_auto_cte_general(
        nb_sql=f"SELECT count(*) AS n FROM esum {where_n}"
    )


_TEXT_LSH_CFG_BITS = range(8, 13)


def _text_lsh_sig_bands_cte(
    src: str = "cent", carry: str = "", suffix: str = ""
) -> str:
    """``sig{suffix}``/``bands{suffix}`` over the centered-vector CTE
    ``src``, keyed off the SHARED ``cfg`` family selection — the
    second-frame half of the adaptive machinery (the decontamination
    eval side bands under the CORPUS's config, exactly as the Spark
    side adopts the corpus family for the probe frame)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        _TEXT_BANDS_FOR_BITS,
        _text_planes,
    )

    x = suffix
    configs = [(bits, _TEXT_BANDS_FOR_BITS[bits]) for bits in _TEXT_LSH_CFG_BITS]
    planes = _text_planes(max(bits * nb for bits, nb in configs))
    bit_exprs = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(w) for w in plane) + "]"
        bit_exprs.append(
            f"CASE WHEN list_sum(list_transform(list_zip(embedding, {lit}), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0 THEN 1 ELSE 0 END AS bit{i}"
        )
    band_selects = []
    for bits, n_bands in configs:
        for b in range(n_bands):
            key = " + ".join(
                f"bit{b * bits + r} * {2 ** (bits - 1 - r)}" for r in range(bits)
            )
            band_selects.append(
                f"SELECT vec_id{carry}, {b} AS band, {key} AS key "
                f"FROM sig{x}, cfg WHERE cfg.bits = {bits}"
            )
    # sig is referenced by every per-config band select (46 of them) —
    # MATERIALIZED stops DuckDB 1.0 from inlining the 132 list-dot
    # bit expressions into each reference (46× recompute = minutes)
    return f"""sig{x} AS MATERIALIZED (SELECT doc_id AS vec_id{carry}, {", ".join(bit_exprs)} FROM {src}),
bands{x} AS ({" UNION ALL ".join(band_selects)})"""


def _text_lsh_auto_cte_general(
    nb_sql: str, src: str = "cent", carry: str = ""
) -> str:
    """The adaptive-family machinery behind ``_text_lsh_auto_cte``:
    ``nb_sql`` supplies the sizing population (full/boundary-filtered
    count for the corpus twins; max per-domain count for the
    domain-centered twin), ``src`` the centered-vector CTE, ``carry``
    extra columns to thread through sig→bands (e.g. ``, domain``)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        TEXT_LSH_TARGET_BUCKET,
        _TEXT_BANDS_FOR_BITS,
    )

    configs = [(bits, _TEXT_BANDS_FOR_BITS[bits]) for bits in _TEXT_LSH_CFG_BITS]
    cases = " ".join(
        f"WHEN n <= {(1 << bits) * TEXT_LSH_TARGET_BUCKET} THEN {bits}"
        for bits, _ in configs[:-1]
    )
    return f"""nb AS ({nb_sql}),
cfg AS MATERIALIZED (SELECT CASE {cases} ELSE {configs[-1][0]} END AS bits FROM nb),
{_text_lsh_sig_bands_cte(src, carry)}"""


def _semantic_text_sql() -> str:
    """SQL twin of embedding.semantic_dedup_text_corpus: the computed
    text embeddings CENTER-banded through the AUTO-SIZED text family
    CTE (shared-vocabulary skew fix + derived-from-N key width — see
    the centering and sizing notes in operators/embedding.py), exact
    RAW-cosine verify at the text threshold, recursive components,
    per-document keep/drop."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        TEXT_NEAR_DUP_THRESHOLD_E6,
    )

    return f"""
WITH RECURSIVE {_embed_sums_cte()},
{_text_center_ctes()},
{_text_lsh_auto_cte()},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN ue a ON a.vec_id = c.id_a JOIN ue b ON b.vec_id = c.id_b
  WHERE {_cos_e6('a', 'b')} >= {TEXT_NEAR_DUP_THRESHOLD_E6}),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e2.d AS node, reach.r FROM reach JOIN sym e2 ON e2.s = reach.node),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
       (cc.node IS NULL OR cc.node = cc.cluster_id) AS keep
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
ORDER BY d.doc_id
"""


def _semantic_text_by_domain_sql() -> str:
    """SQL twin of embedding.semantic_dedup_text_by_domain: the same
    integer embed CTE, PER-DOMAIN centering (csum GROUP BY the
    documents table's source column), banding through the shared
    adaptive-family CTE carrying the domain column (family sized by
    the LARGEST domain's population), within-domain candidates, exact
    raw-cosine verify, recursive components, per-document keep/drop."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        EMBED_DIM,
        TEXT_NEAR_DUP_THRESHOLD_E6,
    )

    tsums = ", ".join(
        f"coalesce(sum(s{d}), 0) AS t{d}" for d in range(EMBED_DIM)
    )
    carr = ", ".join(
        f"(CAST(greatest(n, 1) AS DOUBLE) * CAST(s{d} AS DOUBLE) "
        f"- CAST(t{d} AS DOUBLE))"
        for d in range(EMBED_DIM)
    )
    rarr = ", ".join(f"CAST(s{d} AS DOUBLE)" for d in range(EMBED_DIM))
    lsh = _text_lsh_auto_cte_general(
        nb_sql=(
            "SELECT coalesce(max(c), 0) AS n FROM "
            "(SELECT count(*) AS c FROM dsum GROUP BY domain)"
        ),
        carry=", domain",
    )
    return f"""
WITH RECURSIVE {_embed_sums_cte()},
dsum AS (SELECT e.*, d.source AS domain
         FROM esum e JOIN documents d USING (doc_id)),
csum AS (SELECT domain, CAST(count(*) AS BIGINT) AS n, {tsums}
         FROM dsum GROUP BY domain),
cent AS (SELECT s.doc_id, s.domain, [{carr}] AS embedding
         FROM dsum s JOIN csum USING (domain)),
ue0 AS (SELECT doc_id AS vec_id, [{rarr}] AS embedding FROM esum),
ue AS (SELECT vec_id, embedding, {_COS_NORM} AS nrm FROM ue0),
{lsh},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.domain = b.domain AND a.band = b.band AND a.key = b.key
   AND a.vec_id < b.vec_id),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN ue a ON a.vec_id = c.id_a JOIN ue b ON b.vec_id = c.id_b
  WHERE {_cos_e6('a', 'b')} >= {TEXT_NEAR_DUP_THRESHOLD_E6}),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e2.d AS node, reach.r FROM reach JOIN sym e2 ON e2.s = reach.node),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
       (cc.node IS NULL OR cc.node = cc.cluster_id) AS keep
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
ORDER BY d.doc_id
"""


def _semantic_text_clustered_sql() -> str:
    """SQL twin of embedding.semantic_dedup_text_clustered: UNLABELED
    multi-domain dedup — the shared unrolled-k-means CTE chain
    (``_kmeans_aa_ctes`` over the 2⁻³⁰-scaled text embeddings, the
    knn_text_ivf convention) derives coarse domains; centering
    statistics come from each document's PRIMARY (rn = 1) cluster,
    banding rows from its soft top-``DEDUP_SOFT_ASSIGN`` clusters;
    then the identical per-domain machinery as the labeled twin
    (largest-primary-cluster family sizing, within-domain candidates,
    exact raw-cosine verify, recursive components)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        DEDUP_CLUSTERS,
        DEDUP_SOFT_ASSIGN,
        EMBED_DIM,
        TEXT_NEAR_DUP_THRESHOLD_E6,
        _IVF_SCALE,
    )

    arr = ", ".join(
        f"CAST(s{d} AS DOUBLE) / {_IVF_SCALE!r}" for d in range(EMBED_DIM)
    )
    pre = f"""{_embed_sums_cte()},
emb_arr AS (SELECT doc_id, [{arr}] AS embedding FROM esum),
"""
    kmeans = _kmeans_aa_ctes(
        pre_ctes=pre, src="emb_arr", id_col="doc_id",
        n_centroids=DEDUP_CLUSTERS,
    )
    tsums = ", ".join(
        f"coalesce(sum(s{d}), 0) AS t{d}" for d in range(EMBED_DIM)
    )
    carr = ", ".join(
        f"(CAST(greatest(n, 1) AS DOUBLE) * CAST(s{d} AS DOUBLE) "
        f"- CAST(t{d} AS DOUBLE))"
        for d in range(EMBED_DIM)
    )
    rarr = ", ".join(f"CAST(s{d} AS DOUBLE)" for d in range(EMBED_DIM))
    lsh = _text_lsh_auto_cte_general(
        nb_sql=(
            "SELECT coalesce(max(c), 0) AS n FROM "
            "(SELECT count(*) AS c FROM prim GROUP BY domain)"
        ),
        carry=", domain, rn",
    )
    return f"""
WITH RECURSIVE {kmeans},
asg AS (SELECT vec_id AS doc_id, centroid_id AS domain, rn
        FROM aa WHERE rn <= {DEDUP_SOFT_ASSIGN}),
prim AS (SELECT vec_id AS doc_id, centroid_id AS domain
         FROM aa WHERE rn = 1),
csum AS (SELECT p.domain, CAST(count(*) AS BIGINT) AS n, {tsums}
         FROM esum es JOIN prim p USING (doc_id) GROUP BY p.domain),
dsoft AS (SELECT es.*, a.domain, a.rn FROM esum es JOIN asg a USING (doc_id)),
cent AS (SELECT ds.doc_id, ds.domain, ds.rn, [{carr}] AS embedding
         FROM dsoft ds JOIN csum USING (domain)),
ue0 AS (SELECT doc_id AS vec_id, [{rarr}] AS embedding FROM esum),
ue AS (SELECT vec_id, embedding, {_COS_NORM} AS nrm FROM ue0),
{lsh},
cand AS (
  -- primary-anchored: at least one side in its argmax cluster (the
  -- secondary x secondary blowup cut, BENCH/BASELINE.md round 7)
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.domain = b.domain AND a.band = b.band AND a.key = b.key
   AND a.vec_id < b.vec_id
  WHERE a.rn = 1 OR b.rn = 1),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN ue a ON a.vec_id = c.id_a JOIN ue b ON b.vec_id = c.id_b
  WHERE {_cos_e6('a', 'b')} >= {TEXT_NEAR_DUP_THRESHOLD_E6}),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e2.d AS node, reach.r FROM reach JOIN sym e2 ON e2.s = reach.node),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
       (cc.node IS NULL OR cc.node = cc.cluster_id) AS keep
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
ORDER BY d.doc_id
"""


def _incremental_text_clustered_sql() -> str:
    """SQL twin of embedding.incremental_text_clustered_dedup (split
    path): the quantizer TRAINS on pre-boundary vectors only
    (``train_where``), every vector is still assigned through ``aa``;
    per-cluster centers from pre-boundary PRIMARY members; soft top-2
    banding with rn carried; new-vs-existing collisions under the
    primary-anchored rule; exact raw-cosine verify at the text
    threshold."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        INGEST_BOUNDARY,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        DEDUP_CLUSTERS,
        DEDUP_SOFT_ASSIGN,
        EMBED_DIM,
        TEXT_NEAR_DUP_THRESHOLD_E6,
        _IVF_SCALE,
    )

    b = INGEST_BOUNDARY
    arr = ", ".join(
        f"CAST(s{d} AS DOUBLE) / {_IVF_SCALE!r}" for d in range(EMBED_DIM)
    )
    pre = f"""{_embed_sums_cte()},
emb_arr AS (SELECT doc_id, [{arr}] AS embedding FROM esum),
"""
    kmeans = _kmeans_aa_ctes(
        pre_ctes=pre, src="emb_arr", id_col="doc_id",
        n_centroids=DEDUP_CLUSTERS, train_where=f"vec_id < {b}",
    )
    tsums = ", ".join(
        f"coalesce(sum(s{d}), 0) AS t{d}" for d in range(EMBED_DIM)
    )
    carr = ", ".join(
        f"(CAST(greatest(n, 1) AS DOUBLE) * CAST(s{d} AS DOUBLE) "
        f"- CAST(t{d} AS DOUBLE))"
        for d in range(EMBED_DIM)
    )
    rarr = ", ".join(f"CAST(s{d} AS DOUBLE)" for d in range(EMBED_DIM))
    lsh = _text_lsh_auto_cte_general(
        nb_sql=(
            "SELECT coalesce(max(c), 0) AS n FROM "
            "(SELECT count(*) AS c FROM prim GROUP BY domain)"
        ),
        carry=", domain, rn",
    )
    return f"""
WITH {kmeans},
asg AS (SELECT vec_id AS doc_id, CAST(centroid_id AS VARCHAR) AS domain, rn
        FROM aa WHERE rn <= {DEDUP_SOFT_ASSIGN}),
prim AS (SELECT vec_id AS doc_id, CAST(centroid_id AS VARCHAR) AS domain
         FROM aa WHERE rn = 1 AND vec_id < {b}),
csum AS (SELECT p.domain, CAST(count(*) AS BIGINT) AS n, {tsums}
         FROM esum es JOIN prim p USING (doc_id) GROUP BY p.domain),
dsoft AS (SELECT es.*, a.domain, a.rn FROM esum es JOIN asg a USING (doc_id)),
cent AS (SELECT ds.doc_id, ds.domain, ds.rn, [{carr}] AS embedding
         FROM dsoft ds JOIN csum USING (domain)),
ue0 AS (SELECT doc_id AS vec_id, [{rarr}] AS embedding FROM esum),
ue AS (SELECT vec_id, embedding, {_COS_NORM} AS nrm FROM ue0),
{lsh},
existing AS (SELECT DISTINCT vec_id AS evec, domain, band, key, rn AS ern
             FROM bands WHERE vec_id < {b}),
newb AS (SELECT DISTINCT vec_id, domain, band, key, rn
         FROM bands WHERE vec_id >= {b}),
pairs AS (SELECT DISTINCT n.vec_id, x.evec
          FROM newb n JOIN existing x USING (domain, band, key)
          WHERE n.rn = 1 OR x.ern = 1),
sc AS (
  SELECT p.vec_id, {_cos_e6('a', 'b')} AS s
  FROM pairs p JOIN ue a ON a.vec_id = p.vec_id JOIN ue b ON b.vec_id = p.evec),
dup AS (SELECT DISTINCT vec_id FROM sc WHERE s >= {TEXT_NEAR_DUP_THRESHOLD_E6}),
alln AS (SELECT doc_id FROM documents WHERE doc_id >= {b})
SELECT doc_id,
       CASE WHEN doc_id IN (SELECT vec_id FROM dup)
            THEN 'near_dup' ELSE 'new' END AS verdict
FROM alln ORDER BY doc_id
"""


def _semantic_decontaminate_sql() -> str:
    """SQL twin of curation.semantic_decontaminate over the wrapper's
    planted eval frame: corpus embedded once (``esum``), the eval frame
    embedded with the IDENTICAL kernel (``esum_e`` — the suffixed
    ``_embed_sums_cte``), centering statistic and adaptive LSH family
    both taken from the CORPUS (``csum`` / ``cfg`` — the eval side's
    ``sig_e``/``bands_e`` reuse them via the shared-``cfg`` fragment,
    mirroring the Spark side adopting corpus ``totals`` + family for
    the probe frame), one (band, key) equi-join for candidates, exact
    raw-cosine verify at the text near-dup threshold, per-training-doc
    aggregate with 0-sentinels."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        TEXT_NEAR_DUP_THRESHOLD_E6,
    )

    return f"""
WITH {_embed_sums_cte()},
evald AS (
  SELECT doc_id, text || ' {SEM_EVAL_SUFFIX}' AS text
  FROM documents WHERE doc_id % 13 = 0
  UNION ALL SELECT CAST(-1 AS BIGINT), '{EVAL_SENTENCE}'),
{_embed_sums_cte(src="evald", suffix="_e")},
{_text_center_ctes()},
{_cent_ue_ctes("_e")},
{_text_lsh_auto_cte()},
{_text_lsh_sig_bands_cte(src="cent_e", suffix="_e")},
cand AS (
  SELECT DISTINCT c.vec_id AS c_doc, e.vec_id AS eval_vec
  FROM bands c JOIN bands_e e ON c.band = e.band AND c.key = e.key),
scored AS (
  SELECT c.c_doc, {_cos_e6('a', 'b')} AS score_e6
  FROM cand c JOIN ue a ON a.vec_id = c.c_doc
              JOIN ue_e b ON b.vec_id = c.eval_vec),
hits AS (
  SELECT c_doc, CAST(count(*) AS BIGINT) AS n_eval_near,
         max(score_e6) AS max_score_e6
  FROM scored WHERE score_e6 >= {TEXT_NEAR_DUP_THRESHOLD_E6}
  GROUP BY c_doc)
SELECT d.doc_id,
       COALESCE(h.n_eval_near, 0) AS n_eval_near,
       COALESCE(h.max_score_e6, 0) AS max_score_e6,
       (h.c_doc IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hits h ON h.c_doc = d.doc_id
ORDER BY d.doc_id
"""


def _contamination_report_sql() -> str:
    """SQL twin of the per-eval contamination report over the planted
    three-class eval frame: the shared embedding/centering/auto-family
    CTE builders (corpus frame + suffixed eval frame), per-eval max
    cosine on band candidates, an 8-gram existence check against the
    corpus shingles, and the CASE verdict."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        TEXT_NEAR_DUP_THRESHOLD_E6,
    )

    return f"""
WITH {_embed_sums_cte()},
evald AS (
  SELECT doc_id, text || ' {SEM_EVAL_SUFFIX}' AS text
  FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents WHERE doc_id % 17 = 0 AND doc_id % 13 <> 0
  UNION ALL SELECT CAST(-1 AS BIGINT), '{EVAL_SENTENCE}'),
{_embed_sums_cte(src="evald", suffix="_e")},
{_text_center_ctes()},
{_cent_ue_ctes("_e")},
{_text_lsh_auto_cte()},
{_text_lsh_sig_bands_cte(src="cent_e", suffix="_e")},
cand AS (
  SELECT DISTINCT c.vec_id AS c_doc, e.vec_id AS eval_vec
  FROM bands c JOIN bands_e e ON c.band = e.band AND c.key = e.key),
scored AS (
  SELECT c.eval_vec, {_cos_e6('a', 'b')} AS score_e6
  FROM cand c JOIN ue a ON a.vec_id = c.c_doc
              JOIN ue_e b ON b.vec_id = c.eval_vec),
sem AS (
  SELECT eval_vec, max(score_e6) AS max_cosine_e6
  FROM scored WHERE score_e6 >= {TEXT_NEAR_DUP_THRESHOLD_E6}
  GROUP BY eval_vec),
evw AS (SELECT doc_id AS eval_id, string_split(text, ' ') AS w FROM evald),
evg AS (
  SELECT DISTINCT eval_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
                               i -> array_to_string(w[i:i+7], ' '))) AS g
  FROM evw),
dw AS (SELECT string_split(text, ' ') AS w FROM documents),
dg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
                               i -> array_to_string(w[i:i+7], ' '))) AS g
  FROM dw),
lex AS (SELECT DISTINCT e.eval_id FROM evg e JOIN dg d ON d.g = e.g),
base AS (
  SELECT ev.eval_id,
         (ev.eval_id IN (SELECT eval_id FROM lex)) AS lexical_hit,
         (s.eval_vec IS NOT NULL) AS semantic_hit,
         COALESCE(s.max_cosine_e6, 0) AS max_cosine_e6
  FROM (SELECT DISTINCT doc_id AS eval_id FROM evald) ev
  LEFT JOIN sem s ON s.eval_vec = ev.eval_id)
SELECT eval_id, lexical_hit, semantic_hit, max_cosine_e6,
       CASE WHEN lexical_hit AND semantic_hit THEN 'both'
            WHEN lexical_hit THEN 'lexical_only'
            WHEN semantic_hit THEN 'semantic_only'
            ELSE 'clean' END AS verdict
FROM base ORDER BY eval_id
"""


def _incremental_text_domain_sql() -> str:
    """SQL twin of embedding.incremental_text_domain_dedup: per-domain
    centers computed from the PRE-boundary split (csum GROUP BY domain
    WHERE doc_id < boundary), family sized by the largest pre-boundary
    domain, within-domain band collisions of post-boundary docs against
    the pre-boundary corpus, exact raw-cosine verify. Docs in domains
    with no pre-boundary population drop out of the totals inner join
    (no bands) and report ``new`` — same as the Spark side."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        INGEST_BOUNDARY,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        EMBED_DIM,
        TEXT_NEAR_DUP_THRESHOLD_E6,
    )

    B = INGEST_BOUNDARY
    tsums = ", ".join(
        f"coalesce(sum(s{d}), 0) AS t{d}" for d in range(EMBED_DIM)
    )
    carr = ", ".join(
        f"(CAST(greatest(n, 1) AS DOUBLE) * CAST(s{d} AS DOUBLE) "
        f"- CAST(t{d} AS DOUBLE))"
        for d in range(EMBED_DIM)
    )
    rarr = ", ".join(f"CAST(s{d} AS DOUBLE)" for d in range(EMBED_DIM))
    lsh = _text_lsh_auto_cte_general(
        nb_sql=(
            "SELECT coalesce(max(c), 0) AS n FROM "
            f"(SELECT count(*) AS c FROM dsum WHERE doc_id < {B} "
            "GROUP BY domain)"
        ),
        carry=", domain",
    )
    return f"""
WITH {_embed_sums_cte()},
dsum AS (SELECT e.*, d.source AS domain
         FROM esum e JOIN documents d USING (doc_id)),
csum AS (SELECT domain, CAST(count(*) AS BIGINT) AS n, {tsums}
         FROM dsum WHERE doc_id < {B} GROUP BY domain),
cent AS (SELECT s.doc_id, s.domain, [{carr}] AS embedding
         FROM dsum s JOIN csum USING (domain)),
ue0 AS (SELECT doc_id AS vec_id, [{rarr}] AS embedding FROM esum),
ue AS (SELECT vec_id, embedding, {_COS_NORM} AS nrm FROM ue0),
{lsh},
existing AS (SELECT DISTINCT vec_id AS evec, domain, band, key
             FROM bands WHERE vec_id < {B}),
newb AS (SELECT DISTINCT vec_id, domain, band, key
         FROM bands WHERE vec_id >= {B}),
pairs AS (SELECT DISTINCT n.vec_id, x.evec
          FROM newb n JOIN existing x USING (domain, band, key)),
sc AS (
  SELECT p.vec_id, {_cos_e6('a', 'b')} AS s
  FROM pairs p JOIN ue a ON a.vec_id = p.vec_id JOIN ue b ON b.vec_id = p.evec),
dup AS (SELECT DISTINCT vec_id FROM sc WHERE s >= {TEXT_NEAR_DUP_THRESHOLD_E6}),
alln AS (SELECT doc_id FROM documents WHERE doc_id >= {B})
SELECT doc_id,
       CASE WHEN doc_id IN (SELECT vec_id FROM dup)
            THEN 'near_dup' ELSE 'new' END AS verdict
FROM alln ORDER BY doc_id
"""


def _vocab_top_tokens_sql(k: int = 200) -> str:
    """SQL twin of curation.vocab_top_tokens: same empty-token filter
    as the embedding tokenizer, exact document frequency, total order
    (occurrences desc, token asc) making the top-k cut deterministic."""
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
      FROM tok GROUP BY token)
SELECT token, occurrences, docs FROM c
ORDER BY occurrences DESC, token ASC LIMIT {k}
"""


def _token_bigram_counts_sql(k: int = 200) -> str:
    """SQL twin of curation.token_bigram_counts: adjacent-pair zip of
    the token list with its own shift (1-based inclusive DuckDB slices;
    numeric struct indexing in the zip lambda per the DuckDB gotcha)."""
    return f"""
WITH t AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents),
bi AS (
  SELECT unnest(list_transform(
           list_zip(w[1:len(w) - 1], w[2:len(w)]),
           p -> concat(p[1], ' ', p[2]))) AS bigram
  FROM t WHERE len(w) >= 2),
c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS occurrences
      FROM bi GROUP BY bigram)
SELECT bigram, occurrences FROM c
ORDER BY occurrences DESC, bigram ASC LIMIT {k}
"""


def _bpe_train_ctes() -> tuple:
    """(ctes, sep) — the unrolled BPE training chain shared by the
    trainer twin and the encoder twin: n_merges passes, each = pair
    count over the symbol table → 1-row argmax (identical total order;
    the printable-ASCII word guard pins collation to binary in both
    engines) → left-to-right non-overlapping ``replace`` (both
    engines' replace semantics = greedy BPE application). Every CTE is
    MATERIALIZED — the w-chain is self-referencing and DuckDB would
    otherwise inline each pass twice (the round-6 sign-CTE lesson).
    Constants (n_merges, word regex, \\x1f separator) come from the
    module so a default change cannot desynchronize the twins
    (INGEST_BOUNDARY precedent)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        BPE_N_MERGES,
        BPE_SEP,
        BPE_WORD_RE,
    )

    sep = f"chr({ord(BPE_SEP)})"
    ctes = [
        f"""tok AS MATERIALIZED (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
  FROM documents),
wc AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok
  WHERE regexp_matches(w, '{BPE_WORD_RE}') GROUP BY w),
w0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(.)', {sep} || '\\1', 'g') AS s, cnt FROM wc)"""
    ]
    for k in range(1, BPE_N_MERGES + 1):
        p = k - 1
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT q[1] AS l, q[2] AS r, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT unnest(list_transform(
             list_zip(sym[1:len(sym)-1], sym[2:len(sym)]),
             z -> [z[1], z[2]])) AS q, cnt
    FROM (SELECT string_split(s, {sep})[2:] AS sym, cnt FROM w{p})
    WHERE len(sym) >= 2)
  GROUP BY l, r),
m{k} AS MATERIALIZED (
  SELECT l, r, c FROM p{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
w{k} AS MATERIALIZED (
  SELECT replace(s, {sep} || l || {sep} || r, {sep} || l || r) AS s, cnt
  FROM w{p} CROSS JOIN m{k})"""
        )
    return ctes, sep


def _train_bpe_merges_sql() -> str:
    """SQL twin of curation.train_bpe_merges: the shared unrolled
    training chain (``_bpe_train_ctes``), selecting the per-pass
    argmax rows as the merge table."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        BPE_N_MERGES,
    )

    ctes, _ = _bpe_train_ctes()
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS rank, l AS lhs, r AS rhs, "
        f"l || r AS merged, c AS pair_count FROM m{k}"
        for k in range(1, BPE_N_MERGES + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT * FROM (\n"
        + sel
        + ")\nORDER BY rank"
    )


def _bpe_encode_ctes() -> list:
    """The full encode CTE chain ending in ``agg`` (doc_id, n_words,
    n_bpe_tokens, tokens_fp) — shared by the encode twin and the
    compression-eval twin."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        BPE_N_MERGES,
        BPE_WORD_RE,
    )

    ctes, sep = _bpe_train_ctes()
    ctes.append(
        f"""e0 AS MATERIALIZED (
  SELECT w, regexp_replace(w, '(.)', {sep} || '\\1', 'g') AS s FROM wc)"""
    )
    for k in range(1, BPE_N_MERGES + 1):
        ctes.append(
            f"""e{k} AS MATERIALIZED (
  SELECT w, replace(s, {sep} || l || {sep} || r, {sep} || l || r) AS s
  FROM e{k - 1} CROSS JOIN m{k})"""
        )
    ctes.append(
        f"""dwl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS wl
  FROM documents),
dwo AS (
  SELECT doc_id, ord, wl[ord] AS w
  FROM (SELECT doc_id, unnest(generate_series(1, len(wl))) AS ord, wl
        FROM dwl WHERE len(wl) > 0)
  WHERE regexp_matches(wl[ord], '{BPE_WORD_RE}')),
enc AS (SELECT doc_id, ord, s FROM dwo JOIN e{BPE_N_MERGES} USING (w)),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(len(string_split(s, {sep})) - 1) AS BIGINT)
           AS n_bpe_tokens,
         md5(string_agg(s, '' ORDER BY ord)) AS tokens_fp
  FROM enc GROUP BY doc_id)"""
    )
    return ctes


def _bpe_compression_sql() -> str:
    """SQL twin of curation.bpe_compression_eval: the shared encode
    chain, then per-source integer fertility (tokens per 100 words) and
    chars-per-token (·10²) with zero-denominator sentinels."""
    ctes = _bpe_encode_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + """,
per AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(COALESCE(a.n_words, 0)) AS BIGINT) AS total_words,
         CAST(sum(COALESCE(a.n_bpe_tokens, 0)) AS BIGINT) AS total_tokens,
         CAST(sum(d.n_chars) AS BIGINT) AS total_chars
  FROM documents d LEFT JOIN agg a USING (doc_id)
  GROUP BY d.source)
SELECT source, n_docs, total_tokens,
       CASE WHEN total_words = 0 THEN 0
            ELSE total_tokens * 100 // total_words END AS tokens_per_100w,
       CASE WHEN total_tokens = 0 THEN 0
            ELSE total_chars * 100 // total_tokens END AS chars_per_token_e2
FROM per ORDER BY source
"""
    )


def _bpe_encode_sql() -> str:
    """SQL twin of curation.bpe_encode (trained on the same corpus,
    default n_merges): the shared training chain supplies the per-pass
    argmax rows ``m1..mn``; a parallel ``e``-chain carries the WORD
    alongside its symbol string through the same rank-ordered replaces
    (the encoder replays the trainer's state updates, so e_n(w) is
    exactly the trained vocabulary's encoding); documents unnest to
    ordered encodable words, join the encoded vocab, and aggregate to
    (n_words, n_bpe_tokens, order-exact md5 fingerprint) with the
    empty-doc sentinel row."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        BPE_N_MERGES,
        BPE_WORD_RE,
    )

    ctes = _bpe_encode_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT d.doc_id,
       COALESCE(a.n_words, 0) AS n_words,
       COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       COALESCE(a.tokens_fp, md5('')) AS tokens_fp
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""
    )


def _export_shards_sql() -> str:
    """SQL twin of chunking.export_shards: the pack_sequences twin's
    prefix-sum/grouping verbatim (module constants, not literals — the
    INGEST_BOUNDARY precedent), then the contiguous shard grouping and
    the order-independent content checksum (HUGEINT sum of the 60-bit
    md5 prefix per sequence stat row, emitted as VARCHAR — an
    int128-range value only survives a pandas-path hash exactly as
    text; Spark emits the same digits from its decimal(38,0) sum)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.chunking import (
        PACK_CONTEXT,
        SHARD_SEQS,
    )

    fp = _hex60_sql(
        "md5(CAST(seq_id AS VARCHAR) || ':' || CAST(n_docs AS VARCHAR) "
        "|| ':' || CAST(n_tokens AS VARCHAR))"
    )
    return rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
p AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM t),
seqs AS (
  SELECT CAST(floor(prefix / {float(PACK_CONTEXT)}) AS BIGINT) AS seq_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc
  FROM p GROUP BY seq_id)
SELECT seq_id // {SHARD_SEQS} AS shard_id,
       CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(first_doc) AS first_doc, max(last_doc) AS last_doc,
       CAST(sum({fp}) AS VARCHAR) AS content_fp
FROM seqs GROUP BY shard_id ORDER BY shard_id
"""


def _dsir_importance_sql() -> str:
    """SQL twin of curation.dsir_importance: hashed-bigram buckets
    (60-bit md5 mod n_buckets), the rational per-bucket target/raw
    weight ``(ct+1)*10000 // (cr+1)``, occurrence-weighted per-doc sum
    — integer arithmetic end-to-end, so the floor divisions are
    order-independent (the bm25 rational-scoring precedent).
    Constants come from the module (INGEST_BOUNDARY precedent)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
    )

    return f"""
WITH {_dsir_ctes()}
SELECT doc_id, n_feat, score_e4, avg_e4 FROM dsir ORDER BY doc_id
"""


def _dsir_ctes() -> str:
    """The dsir_importance CTE chain ending in ``dsir`` (doc_id,
    n_feat, score_e4, avg_e4) — shared by the importance and resample
    twins."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
    )

    h = _hex60_sql("md5(bigram)")
    return f"""t AS (
  SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_target,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents),
bi AS (
  SELECT doc_id, is_target,
         unnest(list_transform(list_zip(w[1:len(w) - 1], w[2:len(w)]),
                p -> concat(p[1], ' ', p[2]))) AS bigram
  FROM t WHERE len(w) >= 2),
db AS (
  SELECT doc_id, is_target, ({h}) % {DSIR_BUCKETS} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM bi GROUP BY doc_id, is_target, bucket),
wt AS (
  SELECT bucket,
         (sum(CASE WHEN is_target THEN cnt ELSE 0 END) + 1) * 10000
           // (sum(cnt) + 1) AS w_e4
  FROM db GROUP BY bucket),
sc AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feat,
         CAST(sum(cnt * w_e4) AS BIGINT) AS score_e4
  FROM db JOIN wt USING (bucket) GROUP BY doc_id),
dsir AS (
  SELECT d.doc_id,
         COALESCE(n_feat, 0) AS n_feat,
         COALESCE(score_e4, 0) AS score_e4,
         COALESCE(score_e4 // n_feat, 0) AS avg_e4
  FROM (SELECT doc_id FROM documents) d
  LEFT JOIN sc ON d.doc_id = sc.doc_id)"""


def _dsir_resample_sql() -> str:
    """SQL twin of curation.dsir_resample: the shared dsir CTE chain, a
    1-row total, the md5 uniform draw and the cross-multiplied
    HUGEINT/decimal keep comparison (no float division)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        DSIR_RESAMPLE_RATE_E4,
    )

    u = _hex60_sql("md5('dsir:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH {_dsir_ctes()},
tot AS (SELECT CAST(sum(avg_e4) AS BIGINT) AS w_total,
               CAST(count(*) AS BIGINT) AS n_docs FROM dsir)
SELECT doc_id, avg_e4,
       CAST(({u}) % 10000 AS BIGINT) AS u_e4,
       CAST(({u}) % 10000 AS HUGEINT) * CAST(w_total AS HUGEINT)
         < CAST({DSIR_RESAMPLE_RATE_E4} AS HUGEINT)
           * CAST(avg_e4 AS HUGEINT) * CAST(n_docs AS HUGEINT) AS kept
FROM dsir CROSS JOIN tot
ORDER BY doc_id
"""


def _global_shuffle_sql() -> str:
    """SQL twin of chunking.global_shuffle: the 60-bit md5 order key
    over (salt, doc_id), then ROW_NUMBER over the total order — the
    single-engine oracle form of the distributed two-pass rank."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.chunking import (
        SHUFFLE_SALT,
    )

    key = _hex60_sql(f"md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH g AS (SELECT doc_id, CAST(({key}) AS BIGINT) AS ord_key FROM documents)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY ord_key, doc_id) - 1 AS BIGINT) AS pos,
       ord_key, doc_id
FROM g ORDER BY pos
"""


def _substring_span_dedup_sql() -> str:
    """SQL twin of dedup.substring_span_dedup, parametrized by the SAME
    module constants as the Spark plan (a literal width/stride here
    would silently desynchronize if the default moves — the
    INGEST_BOUNDARY precedent). Scalar ``generate_series`` is unnested
    in the SELECT (lateral args to the table form are unsupported —
    round-1 DuckDB gotcha); ``//`` keeps every division in BIGINT."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        SPAN_DROP_E6,
        SPAN_STRIDE,
        SPAN_WIDTH,
    )

    w, s, d = SPAN_WIDTH, SPAN_STRIDE, SPAN_DROP_E6
    return f"""
WITH base AS (SELECT doc_id, text, length(text) AS len FROM documents),
sp AS (SELECT doc_id, text,
              unnest(generate_series(0, (len - {w}) // {s})) AS i
       FROM base WHERE len >= {w}),
sh AS (SELECT doc_id, md5(substr(text, CAST(i * {s} + 1 AS BIGINT), {w})) AS h
       FROM sp),
duph AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
dpd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
        FROM sh WHERE h IN (SELECT h FROM duph) GROUP BY doc_id),
pre AS (SELECT b.doc_id,
               CAST(CASE WHEN b.len < {w} THEN 0
                         ELSE (b.len - {w}) // {s} + 1 END AS BIGINT) AS n_spans,
               CAST(coalesce(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
        FROM base b LEFT JOIN dpd d ON b.doc_id = d.doc_id),
fr AS (SELECT doc_id, n_spans, n_dup_spans,
              CAST(CASE WHEN n_spans = 0 THEN 0
                        ELSE (n_dup_spans * 1000000) // n_spans
                   END AS BIGINT) AS dup_frac_e6
       FROM pre)
SELECT doc_id, n_spans, n_dup_spans, dup_frac_e6,
       CASE WHEN dup_frac_e6 >= {d} THEN 'flag' ELSE 'keep' END AS verdict
FROM fr ORDER BY doc_id
"""


def _bm25_search_sql() -> str:
    """SQL twin of retrieval.bm25_search — the same rational-idf /
    integer length-normalization derivation (see the module docstring),
    query terms and k interpolated from the operator constants so the
    twins can never desynchronize. ``//`` on BIGINTs everywhere; the
    (score desc, doc_id asc) total order makes the top-k cut
    deterministic in both engines."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.retrieval import (
        BM25_K,
        BM25_QUERY,
    )

    values = ", ".join(f"('{t}')" for t in BM25_QUERY)
    return f"""
WITH q(term) AS (VALUES {values}),
tok AS (SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl,
               unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        FROM documents),
tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok WHERE term IN (SELECT term FROM q)
       GROUP BY doc_id, dl, term),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(list_filter(string_split(text, ' '),
                                          t -> t <> ''))) AS BIGINT) AS total
          FROM documents),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              (((n_docs - df + 1) * 10000) // (df + 1)) * 22 * tf * total
              // (tf * 10 * total + 3 * total + 9 * dl * n_docs) AS s
       FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
       CAST(sum(s) AS BIGINT) AS score_e4
FROM sc GROUP BY doc_id
ORDER BY score_e4 DESC, doc_id ASC LIMIT {BM25_K}
"""


def _lm_score_ctes() -> str:
    """The add-one-smoothed bigram-LM CTE chain ending in
    ``per(doc_id, n_bigrams, lm_score_e6)`` — shared by the
    lm_bigram_score twin and the CCNet-bucket twin. Numeric struct
    indexing in the zip lambda and 1-based inclusive slices per the
    DuckDB gotchas; sums cast back to BIGINT before comparison."""
    return """t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
bg AS (SELECT doc_id,
              unnest(list_transform(list_zip(w[1:len(w) - 1], w[2:len(w)]),
                                    p -> struct_pack(w1 := p[1], w2 := p[2]))) AS p
       FROM t WHERE len(w) >= 2),
b AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg),
pdb AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY doc_id, w1, w2),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY w1, w2),
uni AS (SELECT unnest(w) AS w1 FROM t),
c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w1),
vc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
sc AS (SELECT doc_id, cnt, cnt * (((c2 + 1) * 1000000) // (c1 + v)) AS s
       FROM pdb JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vc),
per AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
               CAST(sum(s) // sum(cnt) AS BIGINT) AS lm_score_e6
        FROM sc GROUP BY doc_id)"""


def _lm_bigram_score_sql() -> str:
    """SQL twin of curation.lm_bigram_score — same add-one-smoothed
    integer bigram conditionals, same mean-probability score (see the
    operator docstring for why ln() is excluded)."""
    return f"""
WITH {_lm_score_ctes()}
SELECT d.doc_id, CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(per.lm_score_e6, 0) AS BIGINT) AS lm_score_e6
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
"""


def _ccnet_buckets_sql() -> str:
    """SQL twin of curation.ccnet_perplexity_buckets: the shared
    bigram-LM chain, a per-(lang, score) histogram (bounded by the e6
    score grid, never corpus size), cumulative-desc windows over the
    histogram only, exact order-statistic value thresholds (ties share
    the boundary bucket), and the head/middle/tail CASE."""
    return f"""
WITH {_lm_score_ctes()},
base AS (SELECT d.doc_id, d.lang,
                CAST(coalesce(per.lm_score_e6, 0) AS BIGINT) AS lm_score_e6
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id),
hist AS (SELECT lang, lm_score_e6, CAST(count(*) AS BIGINT) AS c
         FROM base GROUP BY lang, lm_score_e6),
cum AS (SELECT lang, lm_score_e6,
               sum(c) OVER (PARTITION BY lang ORDER BY lm_score_e6 DESC) AS cumd,
               sum(c) OVER (PARTITION BY lang) AS n
        FROM hist),
thr AS (SELECT lang,
               max(CASE WHEN (n // 3) > 0 AND cumd >= (n // 3)
                        THEN lm_score_e6 END) AS t_head,
               max(CASE WHEN ((2 * n) // 3) > 0 AND cumd >= ((2 * n) // 3)
                        THEN lm_score_e6 END) AS t_mid
        FROM cum GROUP BY lang)
SELECT b.doc_id, b.lang, b.lm_score_e6,
       CASE WHEN b.lm_score_e6 >= coalesce(t_head, 1000001) THEN 'head'
            WHEN b.lm_score_e6 >= coalesce(t_mid, 1000001) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM base b JOIN thr USING (lang) ORDER BY b.doc_id
"""


def _lang_pred_ctes() -> str:
    """Per-document stopword-argmax language prediction —
    ``p(doc_id, lang, lang_pred)`` — shared by the lang_id histogram
    twin and the mismatch-report twin (one copy of the stopword
    profiles in SQL, matching functions.textstats.STOPWORDS)."""
    return """c AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is)\\b')) AS en,
         len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b')) AS de,
         len(regexp_extract_all(lower(text), '\\b(el|la|de|que|y|los)\\b')) AS es,
         len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|une)\\b')) AS fr
  FROM documents),
p AS (
  SELECT doc_id, lang,
         CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
              WHEN en = greatest(en, de, es, fr) THEN 'en'
              WHEN de = greatest(en, de, es, fr) THEN 'de'
              WHEN es = greatest(en, de, es, fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM c)"""


def _lang_mismatch_sql() -> str:
    """SQL twin of curation.lang_mismatch_report: the shared per-doc
    prediction CTE compared against the labeled lang column."""
    return f"""
WITH {_lang_pred_ctes()}
SELECT doc_id, lang, lang_pred, (lang = lang_pred) AS agrees
FROM p ORDER BY doc_id
"""


def _gram_novelty_sql() -> str:
    """SQL twin of curation.gram_novelty: distinct (doc, gram) pairs,
    gram document frequency by row count, per-doc unique fraction on
    the e4 grid; gram-less docs report 10⁴."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        NOVELTY_NGRAM,
    )

    n = NOVELTY_NGRAM
    return f"""
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
dg AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, greatest(len(w) - {n - 1}, 0)),
                                    i -> array_to_string(w[i:i+{n - 1}], ' '))) AS g
       FROM t WHERE len(w) >= {n}),
dfc AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM dg GROUP BY g),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        FROM dg JOIN dfc USING (g) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(per.n_unique, 0) AS BIGINT) AS n_unique,
       CAST(CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 10000
                 ELSE (per.n_unique * 10000) // per.n_grams END AS BIGINT)
         AS novelty_e4
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
"""


def _collocations_pmi_sql() -> str:
    """SQL twin of curation.collocations_pmi: same bigram/unigram
    counts, same two-floor integer PMI (the second multiply HUGEINT —
    the DECIMAL(38) analog), same (score desc, w1, w2) top-k."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        PMI_MIN_COUNT,
        PMI_TOP_K,
    )

    return f"""
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
bgp AS (SELECT unnest(list_transform(list_zip(w[1:len(w) - 1], w[2:len(w)]),
                                     p -> struct_pack(w1 := p[1], w2 := p[2]))) AS p
        FROM t WHERE len(w) >= 2),
b AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM bgp),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY w1, w2),
uni AS (SELECT unnest(w) AS wu FROM t),
c1 AS (SELECT wu, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY wu),
ttt AS (SELECT CAST(sum(c1) AS BIGINT) AS tt FROM c1),
sc AS (SELECT w1, w2, c2,
              CAST((CAST((c2 * 1000000) // a.c1 AS HUGEINT) * tt) // b2.c1
                   AS BIGINT) AS pmi_e6
       FROM c2 JOIN c1 a ON a.wu = c2.w1 JOIN c1 b2 ON b2.wu = c2.w2
       CROSS JOIN ttt
       WHERE c2 >= {PMI_MIN_COUNT})
SELECT w1, w2, c2, pmi_e6 FROM sc
ORDER BY pmi_e6 DESC, w1 ASC, w2 ASC LIMIT {PMI_TOP_K}
"""


def _q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination over the same planted augmentation as
    the doc-level query: every 11th doc carries the eval sentence as a
    suffix — its tokens_removed/n_spans localize the leak instead of
    dropping the document."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" " + EVAL_SENTENCE)),
        ).otherwise(F.col("text")).alias("text"),
    )
    ev = spark.createDataFrame([("e0", EVAL_SENTENCE)], "eval_id string, text string")
    return curation.decontaminate_spans(spark, sf_dir, eval_docs=ev, docs=docs)


def _decontaminate_spans_sql() -> str:
    """SQL twin of the span-level decontamination query: same planted
    augmentation, same hit-gram positions, same clamped padded removal
    windows, span starts via NOT EXISTS on (doc, p-1), kept fingerprint
    via ordered string_agg."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        DECONTAM_NGRAM,
        _MD5_EMPTY,
    )

    n = DECONTAM_NGRAM
    return f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' {EVAL_SENTENCE}'
              ELSE text END AS text
  FROM documents),
evw AS (SELECT list_filter(string_split('{EVAL_SENTENCE}', ' '), x -> x <> '') AS w),
evg AS (
  SELECT DISTINCT
         unnest(list_transform(generate_series(1, greatest(len(w) - {n - 1}, 0)),
                               i -> array_to_string(w[i:i+{n - 1}], ' '))) AS g
  FROM evw),
dw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       FROM aug),
dgp AS (
  SELECT doc_id, len(w) AS ln, i, array_to_string(w[i:i+{n - 1}], ' ') AS g
  FROM (SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS i
        FROM dw)),
hits AS (SELECT doc_id, ln, i FROM dgp JOIN evg USING (g)),
nh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
       FROM hits GROUP BY doc_id),
removed AS (
  SELECT DISTINCT doc_id,
         unnest(generate_series(greatest(i - 0, 1), least(i + {n - 1}, ln))) AS p
  FROM hits),
nr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tokens_removed
       FROM removed GROUP BY doc_id),
ns AS (SELECT r1.doc_id, CAST(count(*) AS BIGINT) AS n_spans
       FROM removed r1
       WHERE NOT EXISTS (SELECT 1 FROM removed r2
                         WHERE r2.doc_id = r1.doc_id AND r2.p = r1.p - 1)
       GROUP BY r1.doc_id),
tokpos AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS p
           FROM dw),
kfp AS (
  SELECT t.doc_id, md5(string_agg(t.tok, ' ' ORDER BY t.p)) AS kept_fp
  FROM tokpos t LEFT JOIN removed r ON r.doc_id = t.doc_id AND r.p = t.p
  WHERE r.p IS NULL
  GROUP BY t.doc_id)
SELECT d.doc_id,
       COALESCE(nh.n_hit_grams, 0) AS n_hit_grams,
       COALESCE(nr.tokens_removed, 0) AS tokens_removed,
       COALESCE(ns.n_spans, 0) AS n_spans,
       COALESCE(kfp.kept_fp, '{_MD5_EMPTY}') AS kept_fp
FROM documents d
LEFT JOIN nh ON nh.doc_id = d.doc_id
LEFT JOIN nr ON nr.doc_id = d.doc_id
LEFT JOIN ns ON ns.doc_id = d.doc_id
LEFT JOIN kfp ON kfp.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def _token_budget_plan_sql() -> str:
    """SQL twin of curation.token_budget_plan: per-source token counts
    against the shared VALUES share table, then the pure-integer epoch
    plan (target, epochs_e4, repeat cap, granted, deficit)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        BUDGET_TOKENS,
        MAX_EPOCHS_E4,
    )

    b, m = int(BUDGET_TOKENS), int(MAX_EPOCHS_E4)
    return f"""
WITH sh(source, share_e4) AS (VALUES {_mixture_values_sql()}),
cnt AS (SELECT d.source, sh.share_e4,
               CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
                    AS BIGINT) AS tokens_available
        FROM documents d JOIN sh USING (source)
        GROUP BY d.source, sh.share_e4),
plan0 AS (SELECT source, tokens_available,
                 CAST((CAST({b} AS BIGINT) * share_e4) // 10000 AS BIGINT) AS target_tokens,
                 CAST(CASE WHEN tokens_available > 0
                           THEN (((CAST({b} AS BIGINT) * share_e4) // 10000) * 10000)
                                // tokens_available
                           ELSE 0 END AS BIGINT) AS epochs_e4
          FROM cnt),
plan1 AS (SELECT source, tokens_available, target_tokens, epochs_e4,
                 CAST(least(epochs_e4, {m}) AS BIGINT) AS capped_epochs_e4,
                 CAST((tokens_available * least(epochs_e4, {m})) // 10000
                      AS BIGINT) AS granted_tokens
          FROM plan0)
SELECT source, tokens_available, target_tokens, epochs_e4, capped_epochs_e4,
       granted_tokens,
       CAST(greatest(target_tokens - granted_tokens, 0) AS BIGINT)
         AS deficit_tokens
FROM plan1 ORDER BY source
"""


# planted multilingual rows for the script-composition query (the
# fixture corpus is ASCII-only — these make every class non-vacuous at
# every SF; negative ids can never collide with corpus docs). Shared by
# the Spark wrapper and the SQL twin, so the frames are identical by
# construction. -4 is digit-dominant, -5 matches no class ('none').
SCRIPT_PLANTED = [
    (-1, "مرحبا بالعالم هذا نص عربي"),
    (-2, "привет мир это русский текст"),
    (-3, "你好世界这是中文文本"),
    (-4, "abc 123 456789"),
    (-5, "!!! ??? ..."),
]


def _q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition over the corpus plus the planted
    multilingual rows (SCRIPT_PLANTED) — Arabic/Cyrillic/CJK/digit
    dominance and the all-zero 'none' class all exercised at every
    SF."""
    _pin_session(spark)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    planted = spark.createDataFrame(SCRIPT_PLANTED, "doc_id long, text string")
    return curation.script_mix_report(
        spark, sf_dir, docs=docs.unionByName(planted)
    )


def _script_mix_sql() -> str:
    """SQL twin of the script-composition query: identical planted
    frame (interpolated from SCRIPT_PLANTED), identical BMP character
    classes (interpolated from SCRIPT_RANGES — literal characters, so
    Java regex and RE2 see the same class), counts via
    length(regexp_replace(…, 'g')), dominant via the same fixed-order
    tie-break CASE."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        SCRIPT_RANGES,
        _SCRIPT_ORDER,
    )

    planted = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}')" for i, t in SCRIPT_PLANTED
    )
    counts = ",\n       ".join(
        f"CAST(length(regexp_replace(text, '[^{rng}]', '', 'g')) AS BIGINT)"
        f" AS n_{name}"
        for name, rng in SCRIPT_RANGES.items()
    )
    mx = "greatest(" + ", ".join(f"n_{n}" for n in _SCRIPT_ORDER) + ")"
    dom = "CASE WHEN " + mx + " = 0 THEN 'none' " + " ".join(
        f"WHEN n_{n} = {mx} THEN '{n}'" for n in _SCRIPT_ORDER
    ) + " END"
    cols = ", ".join(f"n_{n}" for n in _SCRIPT_ORDER)
    return f"""
WITH d2 AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT * FROM (VALUES {planted}) v(doc_id, text)),
c AS (SELECT doc_id,
       {counts}
      FROM d2)
SELECT doc_id, {cols}, {dom} AS dominant
FROM c ORDER BY doc_id
"""


def _encode_documents_sql() -> str:
    """SQL twin of chunking.encode_documents: the same frequency
    vocabulary (rank under (occurrences desc, token asc), bounded to
    vocab_size), OOV → 0, per-document id sequence fingerprinted in
    position order (string_agg ORDER BY pos == Spark's
    array_sort(struct(pos,…)) restoration). Parallel
    unnest + generate_subscripts give DuckDB the token positions."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.chunking import (
        ENCODE_VOCAB_SIZE,
    )

    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token,
         generate_subscripts(
           list_filter(string_split(text, ' '), t -> t <> ''), 1) AS pos
  FROM documents),
c AS (SELECT token, count(*) AS occurrences FROM tok GROUP BY token),
vocab AS (
  SELECT token, CAST(row_number() OVER (ORDER BY occurrences DESC, token ASC)
                AS BIGINT) AS tok_id
  FROM (SELECT * FROM c ORDER BY occurrences DESC, token ASC
        LIMIT {ENCODE_VOCAB_SIZE})),
enc AS (
  SELECT t.doc_id, t.pos, COALESCE(v.tok_id, 0) AS tok_id
  FROM tok t LEFT JOIN vocab v USING (token))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       md5(string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY pos)) AS ids_fp
FROM enc GROUP BY doc_id ORDER BY doc_id
"""


def _incremental_text_semantic_sql() -> str:
    """SQL twin of embedding.incremental_text_semantic_dedup: new docs
    (doc_id ≥ the shared boundary) embedded through the SAME integer
    embed CTE, banded through the shared hyperplane CTE, band-bucket
    collisions against the pre-boundary corpus, exact-cosine verify at
    the text threshold — the text member of the incremental family."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        INGEST_BOUNDARY,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        TEXT_NEAR_DUP_THRESHOLD_E6,
    )

    return f"""
WITH {_embed_sums_cte()},
{_text_center_ctes(where=f"WHERE doc_id < {INGEST_BOUNDARY}")},
{_text_lsh_auto_cte(where_n=f"WHERE doc_id < {INGEST_BOUNDARY}")},
existing AS (SELECT DISTINCT vec_id AS evec, band, key FROM bands WHERE vec_id < {INGEST_BOUNDARY}),
newb AS (SELECT DISTINCT vec_id, band, key FROM bands WHERE vec_id >= {INGEST_BOUNDARY}),
pairs AS (SELECT DISTINCT n.vec_id, x.evec FROM newb n JOIN existing x USING (band, key)),
sc AS (
  SELECT p.vec_id, {_cos_e6('a', 'b')} AS s
  FROM pairs p JOIN ue a ON a.vec_id = p.vec_id JOIN ue b ON b.vec_id = p.evec),
dup AS (SELECT DISTINCT vec_id FROM sc WHERE s >= {TEXT_NEAR_DUP_THRESHOLD_E6}),
alln AS (SELECT doc_id FROM documents WHERE doc_id >= {INGEST_BOUNDARY})
SELECT doc_id,
       CASE WHEN doc_id IN (SELECT vec_id FROM dup)
            THEN 'near_dup' ELSE 'new' END AS verdict
FROM alln ORDER BY doc_id
"""


def _knn_text_ivf_sql() -> str:
    """SQL twin of embedding.knn_text_ivf: the unrolled trained-IVF
    oracle fed by the computed text embeddings (scaled by the exact
    2⁻³⁰ the Spark side applies)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.embedding import (
        EMBED_DIM,
        _IVF_SCALE,
    )

    arr = ", ".join(
        f"CAST(s{d} AS DOUBLE) / {_IVF_SCALE!r}" for d in range(EMBED_DIM)
    )
    pre = f"""{_embed_sums_cte()},
emb_arr AS (SELECT doc_id, [{arr}] AS embedding FROM esum),
"""
    return _ivf_oracle_sql(pre_ctes=pre, src="emb_arr", id_col="doc_id")


def _knn_text_sql() -> str:
    """SQL twin of embedding.knn_text: raw-cosine top-k over the
    computed text embeddings, window form (the heap default is
    byte-identical by test)."""
    return f"""
WITH {_embed_sums_cte()},
{_text_center_ctes()},
q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM ue WHERE vec_id < 8),
sc AS (
  SELECT q.query_id, e2.vec_id AS neighbor_id,
         CAST(floor(
           list_sum(list_transform(list_zip(q.qe, e2.embedding),
                                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (q.qn * e2.nrm) * 1000000.0) AS BIGINT) AS score_e6
  FROM q JOIN ue e2 ON e2.vec_id <> q.query_id),
rnked AS (
  SELECT query_id, neighbor_id, score_e6,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score_e6 DESC, neighbor_id
         ) AS INTEGER) AS rnk
  FROM sc)
SELECT query_id, neighbor_id, rnk, score_e6
FROM rnked WHERE rnk <= 5 ORDER BY query_id, rnk
"""


def _mixture_values_sql() -> str:
    """VALUES list of the default target mixture — interpolated from the
    operator constant so the twins can never desynchronize."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        MIXTURE_SHARES_E4,
    )

    return ", ".join(
        f"('{s}', {int(v)})" for s, v in sorted(MIXTURE_SHARES_E4.items())
    )


def _pin_session(spark: SparkSession) -> None:
    """The driver owns the session; pin the two confs our oracle
    comparisons assume (UTC epochs; Arrow for the pandas stages).
    Both are runtime-settable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def _wrap(mod_fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin_session(spark)
        return mod_fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order IS the driver's check order and the driver records at
    # most 50 rows per round. ROUND-7 hygiene (house rule — audited):
    # window = first 50 of 120.
    # rows 0-8: the 9 round-7 NEW entries (zero driver signal):
    #   semantic_dedup_text_clustered, ccnet_perplexity_buckets,
    #   token_budget_plan, script_mix_report,
    #   incremental_text_clustered_dedup, lang_mismatch_report,
    #   gram_novelty, collocations_pmi, decontaminate_spans.
    # rows 9-40: the 28 round-6 single-green entries held for their
    #   second green, interleaved (original r6 order preserved) with
    #   the FOUR round-6 red twins fixed this round
    #   (hll_register_sketch, export_shards, dsir_resample,
    #   global_shuffle — first post-fix green).
    # rows 41-46: the six r5+r6 double-greens (fewest-green multis):
    #   semantic_dedup_text_corpus, incremental_text_semantic_dedup,
    #   embed_documents, knn_text, knn_text_ivf, exact_stats.
    # row 47: incremental_minhash_dedup — its PLAN changed this round
    #   (lazy probe checkpoint): first post-change green; displaces the
    #   triple-green extract_synthetic_fp (goldens still pin it).
    # rows 48-49: r4+r5(+r6) multi-greens quality_threshold_filter,
    #   semantic_dedup_corpus (incremental_cosine_dedup — also lazy-
    #   checkpoint-changed — sits at 50, first tail row, after the
    #   late decontaminate_spans head addition).
    # TAIL (>= 2 greens each, plus by-design pytest-only
    # extract_synthetic and oracle-less approx_stats): everything from
    # boilerplate_lines down, unchanged relative order.
    # Round-6 hygiene note (kept for audit trail):
    # HEAD = the round-6 NEW entries (winnowing_overlap,
    # incremental_winnowing_overlap, bloom_dedup_probe, cdc_chunks,
    # cms_token_counts, hll_register_sketch, train_bpe_merges,
    # bpe_encode,
    # global_shuffle, substring_span_dedup, semantic_decontaminate,
    # semantic_dedup_text_by_domain,
    # incremental_text_domain_dedup, vocab_top_tokens,
    # token_bigram_counts — zero driver signal), then the two flagship
    # text queries whose PLAN changed this round (auto-sized family +
    # pure-JVM verify: semantic_dedup_text_corpus,
    # incremental_text_semantic_dedup — first post-change row), then
    # the four remaining round-5 head entries holding their single
    # green (embed_documents, knn_text, knn_text_ivf, exact_stats —
    # second green earns the tail), then the r04+r05 double-green block
    # and the multi-green body. Rotated INTO the tail this round (>= 2
    # greens each, unchanged plans): knn_bruteforce, knn_ivf,
    # knn_ivf_multiprobe (r03/r04 + r05 post-heap-change green) and,
    # displaced by the head growth, simhash_near_dups,
    # dedup_survivors, incremental_dedup and fuzzy_name_pairs (all
    # multi-green). The train_bpe_merges/global_shuffle head additions
    # displace the multi-green stringops and dedup_exact_groups to the
    # tail. The eight newest head entries (winnowing_overlap,
    # incremental_winnowing_overlap, bloom_dedup_probe, cdc_chunks,
    # cms_token_counts, hll_register_sketch, dsir_resample,
    # bpe_compression_eval) displace extract_documents (the flagship —
    # still smoke-checked every round via entry(), green in EVERY
    # round's window r1-r5), stitch_conversations, classify_payloads,
    # rate_window, row_counters, ordered_concat, line_bucketing and
    # enrichment_join_shape — every row displaced from the r5 window
    # this round was audited fully green in BOTH r4 and r5
    # (rows+schema+hash).
    # Late round-6 additions (verified_near_dedup,
    # incremental_verified_dedup, minhash_jaccard_estimates,
    # blocklist_filter, contamination_report, quality_aware_dedup,
    # temperature_mixture,
    # vocab_coverage) join the head; they displace dedup_conversations,
    # median_chars_by_source, blocks_table, curation_funnel,
    # quantize_embeddings, near_dedup_corpus and incremental_minhash_
    # dedup and near_dup_cosine — each green in r1-r5 windows multiple
    # times (multi-green;
    # the two minhash tail rows carry the round-6 modulus fix, but
    # their oracles moved in lockstep and the full replica re-ran green
    # at all three SFs post-fix this round).
    # Window = first 50 of 111; every tail entry has >= 2 green driver
    # rows except the by-design pytest-only extract_synthetic and the
    # by-design oracle-less approx_stats.
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
        chunking,
        curation,
        dedup,
        embedding,
        maintenance,
        olap,
        retrieval,
        similarity,
        sketches,
    )

    return {
        # --- NEW round 7 (zero driver signal), then the four round-6
        # twins fixed this round (hll_register_sketch, export_shards,
        # dsir_resample, global_shuffle stay in-window below for their
        # first post-fix green)
        "semantic_dedup_text_clustered": _wrap(
            embedding.semantic_dedup_text_clustered
        ),
        "ccnet_perplexity_buckets": _wrap(curation.ccnet_perplexity_buckets),
        "token_budget_plan": _wrap(curation.token_budget_plan),
        "script_mix_report": _q_script_mix,
        "incremental_text_clustered_dedup": _wrap(
            embedding.incremental_text_clustered_dedup
        ),
        "lang_mismatch_report": _wrap(curation.lang_mismatch_report),
        "gram_novelty": _wrap(curation.gram_novelty),
        "collocations_pmi": _wrap(curation.collocations_pmi),
        "decontaminate_spans": _q_decontaminate_spans,
        # --- NEW round 6: zero driver signal
        "verified_near_dedup": _wrap(dedup.verified_near_dedup),
        "incremental_verified_dedup": _wrap(dedup.incremental_verified_dedup),
        "minhash_jaccard_estimates": _wrap(dedup.minhash_jaccard_estimates),
        "blocklist_filter": _wrap(curation.blocklist_filter),
        "contamination_report": _q_contamination_report,
        "quality_aware_dedup": _wrap(dedup.quality_aware_dedup),
        "temperature_mixture": _wrap(curation.temperature_mixture),
        "vocab_coverage": _wrap(curation.vocab_coverage),
        "winnowing_overlap": _wrap(dedup.winnowing_overlap),
        "incremental_winnowing_overlap": _q_incremental_winnowing,
        "bloom_dedup_probe": _q_bloom_dedup_probe,
        "cdc_chunks": _wrap(chunking.cdc_chunks),
        "cms_token_counts": _wrap(sketches.cms_token_counts),
        "hll_register_sketch": _wrap(sketches.hll_register_sketch),
        "train_bpe_merges": _wrap(curation.train_bpe_merges),
        "bpe_encode": _wrap(curation.bpe_encode),
        "export_shards": _wrap(chunking.export_shards),
        "dsir_importance": _wrap(curation.dsir_importance),
        "dsir_resample": _wrap(curation.dsir_resample),
        "bpe_compression_eval": _wrap(curation.bpe_compression_eval),
        "cluster_safe_split": _wrap(curation.cluster_safe_split),
        "global_shuffle": _wrap(chunking.global_shuffle),
        "substring_span_dedup": _wrap(dedup.substring_span_dedup),
        "bm25_search": _wrap(retrieval.bm25_search),
        "lm_bigram_score": _wrap(curation.lm_bigram_score),
        "semantic_dedup_text_by_domain": _wrap(
            embedding.semantic_dedup_text_by_domain
        ),
        "incremental_text_domain_dedup": _wrap(
            embedding.incremental_text_domain_dedup
        ),
        "vocab_top_tokens": _wrap(curation.vocab_top_tokens),
        "token_bigram_counts": _wrap(curation.token_bigram_counts),
        "encode_documents": _wrap(chunking.encode_documents),
        "dataset_mixture": _wrap(curation.dataset_mixture),
        "semantic_decontaminate": _q_semantic_decontaminate,
        # --- plan changed this round (auto family + JVM verify):
        # first post-change driver row
        "semantic_dedup_text_corpus": _wrap(embedding.semantic_dedup_text_corpus),
        "incremental_text_semantic_dedup": _wrap(
            embedding.incremental_text_semantic_dedup
        ),
        # --- single green row (r05) — second green earns the tail
        "embed_documents": _wrap(embedding.embed_documents),
        "knn_text": _wrap(embedding.knn_text),
        "knn_text_ivf": _wrap(embedding.knn_text_ivf),
        "exact_stats": _wrap(curation.exact_length_stats),
        # --- plan changed this round (lazy probe checkpoint): first
        # post-change green; displaces extract_synthetic_fp (3 greens,
        # unchanged, still pytest-pinned by goldens) to the tail
        "incremental_minhash_dedup": _wrap(dedup.incremental_minhash_dedup),
        # --- double green (r04+r05)
        "quality_threshold_filter": _wrap(curation.quality_threshold_filter),
        "semantic_dedup_corpus": _wrap(similarity.semantic_dedup_corpus),
        "incremental_cosine_dedup": _wrap(similarity.incremental_cosine_dedup),
        # ---------------- TAIL: >= 2 green driver rows each ----------------
        "boilerplate_lines": _q_boilerplate,
        "extract_synthetic_fp": _q_extract_synthetic_fp,
        # --- double green (r03+r04)
        "stratified_sample": _wrap(curation.stratified_hash_sample),
        "dataset_split": _wrap(curation.dataset_split),
        "curation_funnel_full": _wrap(curation.curation_funnel_full),
        "chunk_documents": _wrap(chunking.chunk_documents),
        "pack_sequences": _wrap(chunking.pack_sequences),
        "decontaminate": _q_decontaminate,
        "quality_percentile_filter": _wrap(curation.quality_percentile_filter),
        "corpus_report": _wrap(curation.corpus_report),
        "near_dedup_corpus": _wrap(dedup.near_dedup_corpus),
        "quantize_embeddings": _wrap(similarity.quantize_embeddings),
        # --- multi-green body (extraction core, curation, maintenance,
        # text analysis, dedup, similarity)
        "curation_funnel": _q_curation_funnel,
        "dedup_conversations": _q_dedup_conversations,
        "median_chars_by_source": _q_median_chars,
        "blocks_table": _q_blocks_table,
        "extract_documents": _flagship,
        "stitch_conversations": _q_stitch,
        "classify_payloads": _q_classify,
        "rate_window": _wrap(maintenance.rate_window),
        "row_counters": _wrap(maintenance.row_counters),
        "ordered_concat": _wrap(maintenance.ordered_concat),
        "line_bucketing": _wrap(maintenance.line_bucketing),
        "enrichment_join_shape": _wrap(maintenance.enrichment_join_shape),
        "token_counts": _q_token_counts,
        "quality_scores": _q_quality,
        "lang_id_histogram": _q_lang_id,
        "lang_id_trigram": _q_lang_id_trigram,
        "doc_fingerprints": _q_fingerprints,
        "stringops": _q_stringops,
        "dedup_exact_groups": _q_dedup_exact_groups,
        # --- tail (index >= 50): >= 2 green driver rounds each, except
        # the two by-design entries noted above
        "dedup_survivors": _wrap(dedup.exact_dedup_survivors),
        "incremental_dedup": _wrap(dedup.incremental_dedup),
        "fuzzy_name_pairs": _wrap(dedup.fuzzy_name_pairs),
        "ngram_jaccard_pairs": _wrap(dedup.ngram_jaccard_pairs),
        "minhash_lsh_pairs": _wrap(dedup.minhash_lsh_pairs),
        "simhash_near_dups": _wrap(dedup.simhash_near_dup_pairs),
        "knn_bruteforce": _wrap(similarity.brute_force_knn),
        "knn_ivf": _wrap(similarity.ivf_knn),
        "knn_ivf_multiprobe": _q_knn_ivf_multiprobe,
        "dedup_clusters": _wrap(dedup.dedup_clusters),
        "near_dup_cosine": _wrap(similarity.near_dup_pairs_cosine),
        "cosine_lsh_pairs": _wrap(similarity.cosine_lsh_pairs),
        "approx_stats": _q_approx_stats,
        "pivot_lang_by_source": _q_pivot_lang,
        "symbol_ratios": _q_symbol_ratios,
        "pii_mask": _q_pii_mask,
        "repetition_stats": _wrap(curation.repetition_stats),
        "sentence_stats": _q_sentence_stats,
        "quality_signals_v2": _q_quality_v2,
        "active_count": _wrap(maintenance.active_count),
        "top_k_recent": _wrap(maintenance.top_k_recent),
        "retention_cutoff": _wrap(maintenance.retention_cutoff),
        "stale_scan": _wrap(maintenance.stale_scan),
        "json_extraction": _wrap(maintenance.json_extraction),
        "status_histogram": _wrap(maintenance.status_histogram),
        "revenue_by_nation": _wrap(olap.revenue_by_nation),
        "extract_synthetic": _q_extract_synthetic,
        "sessionize": _wrap(olap.sessionize),
        "pricing_summary": _wrap(olap.pricing_summary),
        "top_k_per_group": _wrap(olap.top_k_per_group),
        "rollup_counts": _wrap(olap.rollup_counts),
        "cube_counts": _wrap(olap.cube_counts),
        "asof_last_click": _wrap(olap.asof_last_click),
        "time_buckets": _wrap(olap.time_buckets),
        "sql_api_revenue": _wrap(olap.sql_api_revenue),
        "window_functions": _wrap(olap.window_functions),
        "set_ops": _wrap(olap.set_ops),
        "semi_anti_joins": _wrap(olap.semi_anti_joins),
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_COS_NORM = (
    "sqrt(list_sum(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
)


def _cos_e6(a: str, b: str) -> str:
    dot = (
        f"list_sum(list_transform(list_zip({a}.embedding, {b}.embedding), "
        f"x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
    )
    return f"CAST(floor({dot} / ({a}.nrm * {b}.nrm) * 1000000.0) AS BIGINT)"


def _winnow_fp_ctes(src: str) -> str:
    """The winnowed-fingerprint CTE chain (tok → g → fp) over source
    table/CTE ``src`` — shared by the corpus-pair twin and the
    incremental twin. ``_hex60_sql``'s internal lambda binds ``i``, so
    the outer gram/window lambdas bind ``p``/``j``."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
    )

    gram_hash = _hex60_sql(
        f"md5(array_to_string(ts[p:p+{WINNOW_K}-1], ' '))"
    )
    return f"""tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM {src}),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(ts) - {WINNOW_K} + 1),
                        p -> {gram_hash}) AS gs
  FROM tok WHERE len(ts) >= {WINNOW_K}),
fp AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(gs) - {WINNOW_W} + 1, 1)),
           j -> list_min(gs[j:j+{WINNOW_W}-1])))) AS fp
  FROM g)"""


def _winnowing_sql() -> str:
    """SQL twin of dedup.winnowing_overlap: the same k-gram 60-bit md5
    hashes, window minima selected by VALUE (no position tie-break
    needed for the fingerprint SET), the same boilerplate DF cap and
    integer containment score."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        WINNOW_MAX_DF,
        WINNOW_MIN_SHARED,
    )

    return f"""
WITH {_winnow_fp_ctes('documents')},
kept AS (
  SELECT f.doc_id, f.fp FROM fp f
  JOIN (SELECT fp FROM fp GROUP BY fp
        HAVING count(*) <= {WINNOW_MAX_DF}) h USING (fp)),
nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fps
  FROM kept a JOIN kept b USING (fp) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED})
SELECT doc_a, doc_b, shared_fps,
       (shared_fps * 10000) // least(na.nf, nb.nf) AS overlap_e4
FROM pairs
JOIN nf na ON na.doc_id = doc_a
JOIN nf nb ON nb.doc_id = doc_b
ORDER BY doc_a, doc_b
"""


def _incremental_winnowing_sql() -> str:
    """SQL twin of dedup.incremental_winnowing_overlap over the planted
    re-ingest corpus (every 50th existing doc re-arrives shifted —
    guaranteed full-containment rows): boundary split, touched-fp
    document frequency computed from the matches, one-sided containment
    of the new doc."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        INGEST_BOUNDARY,
        WINNOW_MAX_DF,
        WINNOW_MIN_SHARED,
    )

    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 50 = 0 AND doc_id < {INGEST_BOUNDARY}),
{_winnow_fp_ctes('base')},
newfp AS (SELECT doc_id AS doc_new, fp FROM fp
          WHERE doc_id >= {INGEST_BOUNDARY}),
idx AS (SELECT doc_id AS doc_existing, fp FROM fp
        WHERE doc_id < {INGEST_BOUNDARY}),
nfn AS (SELECT doc_new, CAST(count(*) AS BIGINT) AS nf_new
        FROM newfp GROUP BY doc_new),
m AS (SELECT doc_new, doc_existing, fp FROM newfp JOIN idx USING (fp)),
hot AS (SELECT fp FROM (SELECT DISTINCT fp, doc_existing FROM m)
        GROUP BY fp HAVING count(*) > {WINNOW_MAX_DF}),
pairs AS (
  SELECT doc_new, doc_existing, CAST(count(*) AS BIGINT) AS shared_fps
  FROM m WHERE fp NOT IN (SELECT fp FROM hot)
  GROUP BY doc_new, doc_existing
  HAVING count(*) >= {WINNOW_MIN_SHARED})
SELECT doc_new, doc_existing, shared_fps,
       (shared_fps * 10000) // nf_new AS contain_e4
FROM pairs JOIN nfn USING (doc_new)
ORDER BY doc_new, doc_existing
"""


def _bloom_sql() -> str:
    """SQL twin of dedup.bloom_dedup_probe: identical md5-derived bit
    positions (``_hex60_sql`` binds ``i`` internally; the position
    lambda binds ``s``), 60-bit bitmap words (DuckDB, like ANSI Spark,
    raises on ``1 << 63``), the same broadcast-shaped left join and
    all-k-bits verdict. The filter geometry ADAPTS to the existing-side
    count through the same integer sizing rule as
    ``auto_bloom_m_bits`` (the ``cfg`` CTE — the bloom analog of the
    text family's adaptive-config CTE); at every driver SF the count
    sits under the sandbox floor, so cfg.m == BLOOM_BITS there."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        _BLOOM_SIZING_DEN,
        _BLOOM_SIZING_NUM,
        BLOOM_BITS,
        BLOOM_HASHES,
        BLOOM_WORD_BITS,
        INGEST_BOUNDARY,
    )

    pos_hash = _hex60_sql("md5(fp || ':' || CAST(s AS VARCHAR))")
    wb = BLOOM_WORD_BITS
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 50 = 0 AND doc_id < {INGEST_BOUNDARY}),
d AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM base),
cfg AS (
  SELECT greatest({BLOOM_BITS // BLOOM_WORD_BITS},
                  count(*) * {_BLOOM_SIZING_NUM}
                    // ({_BLOOM_SIZING_DEN} * {wb}) + 1) * {wb} AS m
  FROM d WHERE doc_id < {INGEST_BOUNDARY}),
pos AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, {BLOOM_HASHES} - 1),
                s -> {pos_hash} % m)) AS pos
  FROM d CROSS JOIN cfg),
words AS (
  SELECT pos // {wb} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {wb} AS INTEGER)) AS mask
  FROM pos WHERE doc_id < {INGEST_BOUNDARY} GROUP BY 1),
probe AS (
  SELECT doc_id, pos // {wb} AS word, pos % {wb} AS bit
  FROM pos WHERE doc_id >= {INGEST_BOUNDARY}),
hits AS (
  SELECT p.doc_id,
         CAST(sum(CASE WHEN w.mask IS NOT NULL
                        AND ((w.mask >> CAST(p.bit AS INTEGER)) & 1) = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS bits_set
  FROM probe p LEFT JOIN words w USING (word) GROUP BY p.doc_id)
SELECT doc_id, bits_set,
       CASE WHEN bits_set = {BLOOM_HASHES}
            THEN 'dup_candidate' ELSE 'new' END AS verdict
FROM hits ORDER BY doc_id
"""


def _cms_sql() -> str:
    """SQL twin of sketches.cms_token_counts: the same md5-derived cell
    positions (seeds joined from a series rather than a struct unnest —
    value-equivalent), integer cell counts, min over depth."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_TOPK,
        CMS_WIDTH,
    )

    pos = _hex60_sql("md5(token || ':' || CAST(s AS VARCHAR))")
    return f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents),
seeds AS (SELECT unnest(generate_series(0, {CMS_DEPTH} - 1)) AS s),
cells AS (
  SELECT s AS d, {pos} % {CMS_WIDTH} AS pos
  FROM tok CROSS JOIN seeds),
sk AS (SELECT d, pos, CAST(count(*) AS BIGINT) AS cnt
       FROM cells GROUP BY d, pos),
top AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count
  FROM tok GROUP BY token
  ORDER BY exact_count DESC, token ASC LIMIT {CMS_TOPK}),
probes AS (
  SELECT token, exact_count, s AS d, {pos} % {CMS_WIDTH} AS pos
  FROM top CROSS JOIN seeds),
est AS (
  SELECT token, exact_count, min(cnt) AS est_count
  FROM probes JOIN sk USING (d, pos) GROUP BY token, exact_count)
SELECT token, exact_count, est_count,
       est_count - exact_count AS overcount
FROM est ORDER BY exact_count DESC, token ASC
"""


def _hll_sql() -> str:
    """SQL twin of sketches.hll_register_sketch: 60-bit md5 hash split
    into (register, 52-bit suffix); the leading-zero rank comes from
    ``length(bin(w))`` — Spark and DuckDB share no-leading-zeros
    ``bin`` semantics, keeping float log2 out of the boundary cases."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.sketches import (
        HLL_LOG2M,
        HLL_WBITS,
    )

    m = 1 << HLL_LOG2M
    h = _hex60_sql("md5(token)")
    return f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents),
hh AS (SELECT {h} AS h FROM tok),
rw AS (SELECT CAST(h % {m} AS BIGINT) AS register, h // {m} AS w FROM hh),
rk AS (
  SELECT register,
         CASE WHEN w = 0 THEN {HLL_WBITS + 1}
              ELSE {HLL_WBITS} + 1 - length(bin(w)) END AS rank
  FROM rw)
SELECT register, CAST(max(rank) AS BIGINT) AS max_rank
FROM rk GROUP BY register ORDER BY register
"""


def _cdc_chunks_sql() -> str:
    """SQL twin of chunking.cdc_chunks: identical 60-bit md5 token
    hashes select the cut positions; DuckDB's ``list_distinct`` does not
    guarantee order (Spark's ``array_distinct`` keeps first occurrence,
    already ascending), so the twin adds ``list_sort``."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.chunking import (
        CDC_DIVISOR,
    )

    tok_hash = _hex60_sql("md5(ts[p])")
    return f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents),
cu AS (
  SELECT doc_id, ts,
         list_concat([0], list_sort(list_distinct(list_concat(
           list_filter(generate_series(1, len(ts)),
                       p -> {tok_hash} % {CDC_DIVISOR} = 0),
           [len(ts)])))) AS cuts
  FROM tok WHERE len(ts) > 0),
ix AS (
  SELECT doc_id, ts, cuts,
         unnest(generate_series(1, len(cuts) - 1)) AS i
  FROM cu)
SELECT doc_id,
       CAST(i - 1 AS INTEGER) AS chunk_idx,
       CAST(cuts[i + 1] - cuts[i] AS INTEGER) AS n_words,
       md5(array_to_string(ts[cuts[i] + 1 : cuts[i + 1]], ' ')) AS chunk_fp
FROM ix ORDER BY doc_id, chunk_idx
"""


def oracle_sql() -> dict[str, str]:
    qualify_fp = (
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    )
    shingle_cte = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 4, 0)),
                               i -> array_to_string(w[i:i+4], ' '))) AS shingle
  FROM words
)"""
    emb_cte = f"""
WITH e AS (
  SELECT vec_id, embedding, {_COS_NORM} AS nrm FROM embeddings
)"""
    lsh_sql = _lsh_oracle_sql()
    return {
        "cosine_lsh_pairs": lsh_sql,
        "pivot_lang_by_source": """
SELECT source,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents GROUP BY source ORDER BY source
""",
        "window_functions": """
SELECT user_id, event_id,
       CAST(rank() OVER w AS INTEGER) AS rnk,
       CAST(dense_rank() OVER w AS INTEGER) AS drnk,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       COALESCE(lag(event_type) OVER w, '(none)') AS prev_type,
       COALESCE(lead(event_type) OVER w, '(none)') AS next_type,
       CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_e6
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)
ORDER BY user_id, event_id
""",
        "set_ops": """
WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
errs AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
tagged AS (
  SELECT user_id, 'both' AS tag FROM (SELECT user_id FROM buyers INTERSECT SELECT user_id FROM errs)
  UNION ALL
  SELECT user_id, 'buy_only' AS tag FROM (SELECT user_id FROM buyers EXCEPT SELECT user_id FROM errs)
  UNION ALL
  SELECT user_id, 'any' AS tag FROM (SELECT user_id FROM buyers UNION SELECT user_id FROM errs))
SELECT tag, CAST(count(*) AS BIGINT) AS n_users FROM tagged GROUP BY tag ORDER BY tag
""",
        "semi_anti_joins": """
WITH tagged AS (
  SELECT c_mktsegment, 'with_orders' AS tag FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  UNION ALL
  SELECT c_mktsegment, 'no_orders' AS tag FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
SELECT c_mktsegment, tag, CAST(count(*) AS BIGINT) AS n
FROM tagged GROUP BY c_mktsegment, tag ORDER BY c_mktsegment, tag
""",
        "sessionize": """
WITH g AS (
  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS te,
         CASE WHEN COALESCE(
             CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w,
             1801) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, te,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g),
per AS (
  SELECT user_id, session_id, count(*) AS n_events, min(te) AS start_epoch, max(te) AS end_epoch
  FROM s GROUP BY user_id, session_id)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(max(n_events) AS BIGINT) AS max_session_events,
       CAST(sum(end_epoch - start_epoch) AS BIGINT) AS total_session_sec
FROM per GROUP BY user_id ORDER BY user_id
""",
        "top_k_per_group": """
SELECT user_id, CAST(rnk AS INTEGER) AS rnk, event_id,
       CAST(floor(value * 100) AS BIGINT) AS value_cents
FROM (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
      FROM events)
WHERE rnk <= 3 ORDER BY user_id, rnk
""",
        "rollup_counts": """
WITH ev AS (SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS weekday, value FROM events)
SELECT COALESCE(event_type, '(all)') AS event_type,
       CAST(COALESCE(weekday, -1) AS INTEGER) AS weekday,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(floor(value * 100)) AS BIGINT) AS value_cents
FROM ev GROUP BY ROLLUP(event_type, weekday)
ORDER BY event_type, weekday
""",
        "cube_counts": """
WITH ev AS (SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS weekday, value FROM events)
SELECT COALESCE(event_type, '(all)') AS event_type,
       CAST(COALESCE(weekday, -1) AS INTEGER) AS weekday,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(floor(value * 100)) AS BIGINT) AS value_cents
FROM ev GROUP BY CUBE(event_type, weekday)
ORDER BY event_type, weekday
""",
        "asof_last_click": """
SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       COALESCE(last_click_epoch, -1) AS last_click_epoch
FROM (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_epoch
  FROM events)
WHERE event_type = 'purchase' ORDER BY event_id
""",
        "revenue_by_nation": """
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
""",
        "time_buckets": """
SELECT CAST(floor(floor(epoch(ts)) / 21600) AS BIGINT) AS bucket, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(floor(value * 100)) AS BIGINT) AS value_cents
FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type
""",
        "sql_api_revenue": """
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(floor(l_quantity)) AS BIGINT) AS sum_qty,
       CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS sum_base_cents,
       CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS sum_disc_cents,
       CAST(count(*) AS BIGINT) AS count_order,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
""",
        "median_chars_by_source": """
SELECT source, CAST(median(n_chars) * 10 AS BIGINT) AS median_chars_x10
FROM documents GROUP BY source ORDER BY source
""",
        "curation_funnel": """
WITH staged AS (
  SELECT doc_id,
    CAST(floor((
        0.4 * least(length(text) / 2000.0, 1.0)
      + 0.5 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / length(text) END)
      + 0.1 * (1.0 - least((CASE WHEN length(text) = 0 THEN 1.0 ELSE len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}<>/\\\\|@#$%^&*+=~`-]')) * 1.0 / length(text) END) * 5.0, 1.0))
    ) * 10000.0) AS BIGINT) AS q,
    CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         WHEN en = greatest(en, de, es, fr) THEN 'en'
         WHEN de = greatest(en, de, es, fr) THEN 'de'
         WHEN es = greatest(en, de, es, fr) THEN 'es'
         ELSE 'fr' END AS lp,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM (
    SELECT *,
      len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is)\\b')) AS en,
      len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b')) AS de,
      len(regexp_extract_all(lower(text), '\\b(el|la|de|que|y|los)\\b')) AS es,
      len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|une)\\b')) AS fr
    FROM documents)),
surv AS (
  SELECT *, (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS survivor FROM staged)
SELECT CAST(count(*) AS BIGINT) AS n_input,
       CAST(sum(CASE WHEN q >= 3000 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN q >= 3000 AND lp = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN q >= 3000 AND lp = 'en' AND survivor THEN 1 ELSE 0 END) AS BIGINT) AS n_final
FROM surv
""",
        "dedup_conversations": r"""
WITH stitched AS (
  SELECT source AS conv_id,
         string_agg(text, E'\n\n---\n\n' ORDER BY doc_id) AS conversation_text
  FROM documents GROUP BY source)
SELECT md5(trim(regexp_replace(lower(conversation_text), '\s+', ' ', 'g'))) AS fp,
       min(conv_id) AS canonical_conv,
       CAST(count(*) AS BIGINT) AS n_convs
FROM stitched GROUP BY fp ORDER BY canonical_conv
""",
        "extract_documents": """
SELECT source AS conv_id,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
       text AS extracted_text,
       CAST(1 AS INTEGER) AS n_blocks_kept,
       CAST(0 AS INTEGER) AS n_blocks_dropped,
       CAST(length(text) AS BIGINT) AS chars_extracted
FROM documents
""",
        "stitch_conversations": """
SELECT source AS conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(length(text)) AS BIGINT) AS chars_extracted,
       string_agg(text, E'\\n\\n---\\n\\n' ORDER BY doc_id) AS conversation_text
FROM documents GROUP BY source ORDER BY conv_id
""",
        # classify: mirrors classify_payload() including the gate order —
        # lstrip before the '{' probe, fence probe limited to the first
        # 4000 chars, and parse-success required (json_valid + pages must
        # be an ARRAY, on the raw string or the fenced block). The one
        # remaining asymmetry is the Python ast-literal fallback for
        # Python-dict-style payloads (single quotes / None), which SQL
        # cannot replicate — exercised in tests/test_core.py adversarial
        # fixtures, absent from the generated corpus.
        "classify_payloads": r"""
WITH probe AS (
  SELECT doc_id, text, ltrim(text) AS lt,
         regexp_extract(text, '(?is)```(?:json)?\s*(\{.*?\})\s*```', 1) AS fenced
  FROM documents),
cls AS (
  SELECT doc_id, text,
    ((lt LIKE '{%' OR strpos(substr(text, 1, 4000), '```') > 0)
     AND strpos(text, '"pages"') > 0
     AND ((lt LIKE '{%' AND json_valid(lt)
           AND CASE WHEN json_valid(lt) THEN json_type(json(lt), '$.pages') END = 'ARRAY')
          OR (fenced <> '' AND json_valid(fenced)
              AND CASE WHEN json_valid(fenced) THEN json_type(json(fenced), '$.pages') END = 'ARRAY'))
    ) AS is_pdf
  FROM probe)
SELECT doc_id,
       CASE WHEN is_pdf THEN 'pdf'
            WHEN regexp_matches(text, '<[a-zA-Z][a-zA-Z0-9]*(\s[^>]*)?>') THEN 'html'
            ELSE 'plain' END AS kind
FROM cls ORDER BY doc_id
""",
        "status_histogram": """
SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type ORDER BY event_type
""",
        "active_count": """
SELECT CAST(sum(CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       CAST(count(*) AS BIGINT) AS n_total FROM events
""",
        "top_k_recent": """
SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
""",
        "retention_cutoff": """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_expired
FROM events
WHERE floor(epoch(ts)) < (SELECT max(floor(epoch(ts))) - 86400 FROM events)
GROUP BY event_type ORDER BY event_type
""",
        "stale_scan": """
SELECT CAST(count(*) AS BIGINT) AS n_stale, min(event_id) AS first_id
FROM events
WHERE event_type = 'error' AND floor(epoch(ts)) < (SELECT max(floor(epoch(ts))) - 1800 FROM events)
""",
        "rate_window": """
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_last_60s,
       (count(*) OVER w <= 30) AS admitted
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 60 PRECEDING AND CURRENT ROW)
""",
        "row_counters": """
SELECT event_id, user_id, event_type,
       CAST(row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) - 1 AS INTEGER) AS k
FROM events
""",
        "ordered_concat": """
SELECT user_id,
       string_agg(event_type, '-' ORDER BY ts, event_id) AS trail,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id ORDER BY user_id
""",
        "line_bucketing": """
WITH numbered AS (
  SELECT source, CAST(floor((row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) / 53) AS BIGINT) AS page
  FROM documents)
SELECT source, page, CAST(count(*) AS BIGINT) AS n_lines
FROM numbered GROUP BY source, page ORDER BY source, page
""",
        "json_extraction": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1)) AS BIGINT) AS sum_k,
       CAST(max(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1)) AS BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
""",
        "enrichment_join_shape": """
SELECT COALESCE(o.o_orderpriority, 'MISSING_CROP') AS priority, CAST(count(*) AS BIGINT) AS n
FROM lineitem l
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 100000.0) o
  ON l.l_orderkey = o.o_orderkey
GROUP BY priority ORDER BY priority
""",
        "token_counts": """
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS INTEGER) AS n_bpeish
FROM documents ORDER BY doc_id
""",
        "quality_scores": """
SELECT doc_id,
  CAST(CASE WHEN length(text) = 0 THEN 0
       ELSE floor(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}<>/\\\\|@#$%^&*+=~`-]')) * 10000.0 / length(text)) END AS BIGINT) AS punct_e4,
  CAST(floor((
      0.4 * least(length(text) / 2000.0, 1.0)
    + 0.5 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / length(text) END)
    + 0.1 * (1.0 - least((CASE WHEN length(text) = 0 THEN 1.0 ELSE len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}<>/\\\\|@#$%^&*+=~`-]')) * 1.0 / length(text) END) * 5.0, 1.0))
  ) * 10000.0) AS BIGINT) AS quality_e4
FROM documents ORDER BY doc_id
""",
        "sentence_stats": r"""
WITH s AS (SELECT doc_id, regexp_split_to_array(text, '[.!?]\s+') AS sents FROM documents)
SELECT doc_id,
       CAST(len(sents) AS INTEGER) AS n_sentences,
       CAST(list_max(list_transform(sents, x -> length(x))) AS INTEGER) AS max_sentence_chars,
       CAST(list_min(list_transform(sents, x -> length(x))) AS INTEGER) AS min_sentence_chars
FROM s ORDER BY doc_id
""",
        "quality_signals_v2": r"""
WITH chars AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM documents
), counts AS (
  SELECT doc_id, ch, count(*) AS c FROM chars WHERE length(ch) > 0 GROUP BY doc_id, ch
), totals AS (
  SELECT doc_id, sum(c) AS tot FROM counts GROUP BY doc_id
), terms AS (
  SELECT c.doc_id,
         CAST(floor(-((c.c * 1.0 / t.tot) * log2(c.c * 1.0 / t.tot)) * 100000000) AS BIGINT) AS term_e8
  FROM counts c JOIN totals t ON c.doc_id = t.doc_id
), ent AS (
  SELECT doc_id,
         CAST(floor(sum(term_e8) / 10000.0) AS BIGINT) AS entropy_e4
  FROM terms GROUP BY doc_id
), awl AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE floor(len(regexp_extract_all(text, '[A-Za-z0-9]')) * 100.0
                   / len(regexp_split_to_array(trim(text), '\s+'))) END AS BIGINT) AS avg_word_len_e2
  FROM documents)
SELECT a.doc_id, a.avg_word_len_e2, e.entropy_e4
FROM awl a JOIN ent e ON a.doc_id = e.doc_id ORDER BY a.doc_id
""",
        "lang_id_histogram": f"""
WITH {_lang_pred_ctes()}
SELECT lang_pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY lang_pred ORDER BY lang_pred
""",
        "lang_id_trigram": """
WITH c AS (
  SELECT len(regexp_extract_all(lower(text), 'the')) + len(regexp_extract_all(lower(text), 'and')) + len(regexp_extract_all(lower(text), 'ing')) + len(regexp_extract_all(lower(text), ' of')) + len(regexp_extract_all(lower(text), 'ion')) AS en,
         len(regexp_extract_all(lower(text), 'der')) + len(regexp_extract_all(lower(text), 'ein')) + len(regexp_extract_all(lower(text), 'sch')) + len(regexp_extract_all(lower(text), 'und')) + len(regexp_extract_all(lower(text), 'cht')) AS de,
         len(regexp_extract_all(lower(text), 'que')) + len(regexp_extract_all(lower(text), ' de')) + len(regexp_extract_all(lower(text), 'ión')) + len(regexp_extract_all(lower(text), 'los')) + len(regexp_extract_all(lower(text), ' la')) AS es,
         len(regexp_extract_all(lower(text), 'les')) + len(regexp_extract_all(lower(text), ' le')) + len(regexp_extract_all(lower(text), 'ent')) + len(regexp_extract_all(lower(text), 'des')) + len(regexp_extract_all(lower(text), 'une')) AS fr
  FROM documents),
p AS (
  SELECT CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
              WHEN en = greatest(en, de, es, fr) THEN 'en'
              WHEN de = greatest(en, de, es, fr) THEN 'de'
              WHEN es = greatest(en, de, es, fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM c)
SELECT lang_pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY lang_pred ORDER BY lang_pred
""",
        "doc_fingerprints": f"""
SELECT doc_id, {qualify_fp} AS fp FROM documents ORDER BY doc_id
""",
        "stringops": """
SELECT doc_id,
       substr(regexp_replace(regexp_replace(source || '/' || substr(text, 1, 48), '^.*[/\\\\]', ''), '[\\x00-\\x1f<>:"/\\\\|?*]', '_', 'g'), 1, 200) AS sanitized,
       substr(md5(text), 1, 10) || '****' || substr(md5(text), length(md5(text)) - 3, 4) AS masked,
       to_base64(encode(substr(text, 1, 24))) AS b64_prefix,
       CAST(floor(least(sqrt(200000.0 / greatest(n_chars, 1)) * 0.99, 1.0) * 10000) AS BIGINT) AS downscale_e4,
       replace(regexp_replace(source || ' ' || substr(text, 1, 32), '[^A-Za-z0-9 ]', '', 'g'), ' ', '+') AS url_name
FROM documents ORDER BY doc_id
""",
        "pii_mask": r"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.20.30.40 call +555-123-4567'
              ELSE text END AS text
  FROM documents),
m AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      '\+?\d{3}[-. ]\d{3,4}[-. ]\d{4}', '<PHONE>', 'g') AS masked,
    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
    len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
    len(regexp_extract_all(text, '\+?\d{3}[-. ]\d{3,4}[-. ]\d{4}')) AS n_phones
  FROM aug)
SELECT doc_id, CAST(n_emails AS INTEGER) AS n_emails,
       CAST(n_ips AS INTEGER) AS n_ips, CAST(n_phones AS INTEGER) AS n_phones,
       md5(masked) AS masked_fp
FROM m ORDER BY doc_id
""",
        "boilerplate_lines": """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || chr(10) || 'Subscribe to our newsletter today' || chr(10) || 'Copyright 2026 Example Corp'
              ELSE text END AS text
  FROM documents),
l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
e AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ls)),
                                   i -> {'pos': i, 'line': ls[i]})) AS u
      FROM l),
-- frequency/join key is md5(trim(line)) — the fixed-width digest the
-- Spark operator shuffles (round-3 verdict #2), never the raw line
lines AS (SELECT doc_id, u.pos AS pos, u.line AS line, md5(trim(u.line)) AS key_h FROM e),
freq AS (
  SELECT key_h FROM (SELECT DISTINCT doc_id, key_h FROM lines WHERE trim(line) <> '')
  GROUP BY key_h HAVING count(*) >= 3),
kept AS (SELECT * FROM lines WHERE key_h NOT IN (SELECT key_h FROM freq)),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id),
totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(r.n_kept, 0) AS n_kept,
       t.n_lines - COALESCE(r.n_kept, 0) AS n_dropped,
       md5(COALESCE(r.cleaned, '')) AS cleaned_fp
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
""",
        "corpus_report": r"""
WITH staged AS (
  SELECT
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
    length(text) AS n_chars_c,
    CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         WHEN en = greatest(en, de, es, fr) THEN 'en'
         WHEN de = greatest(en, de, es, fr) THEN 'de'
         WHEN es = greatest(en, de, es, fr) THEN 'es'
         ELSE 'fr' END AS lp,
    CAST(floor((
        0.4 * least(length(text) / 2000.0, 1.0)
      + 0.5 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / length(text) END)
      + 0.1 * (1.0 - least((CASE WHEN length(text) = 0 THEN 1.0 ELSE len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}<>/\\|@#$%^&*+=~`-]')) * 1.0 / length(text) END) * 5.0, 1.0))
    ) * 10000.0) AS BIGINT) AS q,
    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
    source
  FROM (
    SELECT *,
      len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS en,
      len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de,
      len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los)\b')) AS es,
      len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|une)\b')) AS fr
    FROM documents))
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars_c) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT lp) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(floor(sum(q) * 1.0 / count(*)) AS BIGINT) AS mean_quality_e4,
       CAST(sum(CASE WHEN q >= 3000 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_gate,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs
FROM staged
""",
        "quality_percentile_filter": """
WITH scored AS (
  SELECT doc_id, source,
    CAST(floor((
        0.4 * least(length(text) / 2000.0, 1.0)
      + 0.5 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / length(text) END)
      + 0.1 * (1.0 - least((CASE WHEN length(text) = 0 THEN 1.0 ELSE len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}<>/\\\\|@#$%^&*+=~`-]')) * 1.0 / length(text) END) * 5.0, 1.0))
    ) * 10000.0) AS BIGINT) AS q
  FROM documents),
t AS (
  SELECT doc_id, source, q,
         CAST(ntile(10) OVER (PARTITION BY source ORDER BY q ASC, doc_id ASC) AS INTEGER) AS decile
  FROM scored)
SELECT doc_id, source, q, decile, (decile > 1) AS kept
FROM t ORDER BY doc_id
""",
        "quality_threshold_filter": _quality_threshold_sql(),
        "extract_synthetic_fp": _extract_synthetic_fp_sql(),
        "semantic_dedup_corpus": _semantic_dedup_sql(),
        "incremental_cosine_dedup": _incremental_cosine_sql(),
        "embed_documents": _embed_documents_sql(),
        "semantic_dedup_text_clustered": _semantic_text_clustered_sql(),
        "ccnet_perplexity_buckets": _ccnet_buckets_sql(),
        "token_budget_plan": _token_budget_plan_sql(),
        "script_mix_report": _script_mix_sql(),
        "incremental_text_clustered_dedup": _incremental_text_clustered_sql(),
        "lang_mismatch_report": _lang_mismatch_sql(),
        "gram_novelty": _gram_novelty_sql(),
        "collocations_pmi": _collocations_pmi_sql(),
        "decontaminate_spans": _decontaminate_spans_sql(),
        "semantic_dedup_text_by_domain": _semantic_text_by_domain_sql(),
        "incremental_text_domain_dedup": _incremental_text_domain_sql(),
        "winnowing_overlap": _winnowing_sql(),
        "incremental_winnowing_overlap": _incremental_winnowing_sql(),
        "bloom_dedup_probe": _bloom_sql(),
        "cdc_chunks": _cdc_chunks_sql(),
        "cms_token_counts": _cms_sql(),
        "hll_register_sketch": _hll_sql(),
        "train_bpe_merges": _train_bpe_merges_sql(),
        "bpe_encode": _bpe_encode_sql(),
        "export_shards": _export_shards_sql(),
        "dsir_importance": _dsir_importance_sql(),
        "dsir_resample": _dsir_resample_sql(),
        "bpe_compression_eval": _bpe_compression_sql(),
        "cluster_safe_split": _cluster_safe_split_sql(),
        "global_shuffle": _global_shuffle_sql(),
        "substring_span_dedup": _substring_span_dedup_sql(),
        "bm25_search": _bm25_search_sql(),
        "lm_bigram_score": _lm_bigram_score_sql(),
        "vocab_top_tokens": _vocab_top_tokens_sql(),
        "token_bigram_counts": _token_bigram_counts_sql(),
        "encode_documents": _encode_documents_sql(),
        "semantic_dedup_text_corpus": _semantic_text_sql(),
        "semantic_decontaminate": _semantic_decontaminate_sql(),
        "contamination_report": _contamination_report_sql(),
        "incremental_text_semantic_dedup": _incremental_text_semantic_sql(),
        "knn_text": _knn_text_sql(),
        "knn_text_ivf": _knn_text_ivf_sql(),
        "exact_stats": """
WITH hist AS (
  SELECT source, length(text) AS len, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, length(text)),
cum AS (
  SELECT source, len,
         sum(c) OVER (PARTITION BY source ORDER BY len) AS cum,
         sum(c) OVER (PARTITION BY source) AS n
  FROM hist)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       min(CASE WHEN cum >= ((n - 1) * 25) // 100 + 1 THEN len END) AS q25,
       min(CASE WHEN cum >= ((n - 1) * 50) // 100 + 1 THEN len END) AS q50,
       min(CASE WHEN cum >= ((n - 1) * 75) // 100 + 1 THEN len END) AS q75
FROM cum GROUP BY source ORDER BY source
""",
        "decontaminate": f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' {EVAL_SENTENCE}'
              ELSE text END AS text
  FROM documents),
evw AS (SELECT string_split('{EVAL_SENTENCE}', ' ') AS w),
evg AS (
  SELECT DISTINCT
         unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
                               i -> array_to_string(w[i:i+7], ' '))) AS g
  FROM evw),
dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
dg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
                               i -> array_to_string(w[i:i+7], ' '))) AS g
  FROM dw),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM dg JOIN evg USING (g) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(h.n_shared, 0) AS n_shared_grams,
       (h.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
ORDER BY d.doc_id
""",
        "repetition_stats": """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                               i -> array_to_string(w[i:i+2], ' '))) AS g
  FROM words),
per AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
agg AS (
  SELECT doc_id, sum(c) AS total, count(*) AS distinct_grams, max(c) AS topc
  FROM per GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(floor((a.total - a.distinct_grams) * 10000.0 / a.total), 0) AS BIGINT) AS dup_ratio_e4,
       CAST(COALESCE(a.topc, 0) AS BIGINT) AS top_gram_count
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
""",
        "symbol_ratios": r"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0
              THEN text || chr(10) || '- first bullet' || chr(10) || '* second bullet' || chr(10) || 'to be continued...' || chr(10) || '# note #'
              ELSE text END AS text
  FROM documents),
l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM aug),
m AS (
  SELECT doc_id,
         length(text) AS chars,
         len(ls) AS n_lines,
         len(list_filter(ls, x -> regexp_matches(trim(x), '^[-*•]'))) AS bullet,
         len(list_filter(ls, x -> regexp_matches(x, '\.\.\.$'))) AS ellipsis,
         len(regexp_extract_all(text, '[#•…]')) AS symbols,
         list_sum(list_transform(ls, x -> length(x))) AS total_line_chars
  FROM l)
SELECT doc_id,
       CAST(CASE WHEN chars = 0 THEN 0 ELSE floor(symbols * 10000.0 / chars) END AS BIGINT) AS symbol_ratio_e4,
       CAST(CASE WHEN n_lines = 0 THEN 0 ELSE floor(bullet * 10000.0 / n_lines) END AS BIGINT) AS bullet_ratio_e4,
       CAST(CASE WHEN n_lines = 0 THEN 0 ELSE floor(ellipsis * 10000.0 / n_lines) END AS BIGINT) AS ellipsis_ratio_e4,
       CAST(CASE WHEN n_lines = 0 THEN 0 ELSE floor(total_line_chars * 100.0 / n_lines) END AS BIGINT) AS mean_line_len_e2
FROM m ORDER BY doc_id
""",
        "dataset_mixture": f"""
WITH sh AS (SELECT * FROM (VALUES {_mixture_values_sql()}) AS t(source, share_e4)),
cnt AS (SELECT d.source, sh.share_e4, CAST(count(*) AS BIGINT) AS n
        FROM documents d JOIN sh USING (source) GROUP BY d.source, sh.share_e4),
t AS (SELECT min(n * 10000 // share_e4) AS tmax FROM cnt),
rates AS (SELECT source, ((share_e4 * tmax // 10000) * 10000) // n AS rate_e4
          FROM cnt, t)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE ({_hex60_sql("md5(CAST(doc_id AS VARCHAR))")}) % 10000 < r.rate_e4
ORDER BY d.doc_id
""",
        "stratified_sample": f"""
WITH g AS (
  SELECT doc_id, lang,
         ({_hex60_sql("md5(CAST(doc_id AS VARCHAR))")}) % 10000 AS cell,
         CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 WHEN 'es' THEN 2500
                   WHEN 'fr' THEN 1000 WHEN 'zh' THEN 1000 ELSE 0 END AS rate_e4
  FROM documents)
SELECT doc_id, lang FROM g WHERE cell < rate_e4 ORDER BY doc_id
""",
        "dataset_split": f"""
WITH g AS (
  SELECT lang,
         ({_hex60_sql("md5(CAST(doc_id AS VARCHAR))")}) % 10000 AS cell
  FROM documents)
SELECT CASE WHEN cell < 9000 THEN 'train'
            WHEN cell < 9500 THEN 'val' ELSE 'test' END AS split,
       lang, CAST(count(*) AS BIGINT) AS n
FROM g GROUP BY split, lang ORDER BY split, lang
""",
        "dedup_exact_groups": f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0)
SELECT {qualify_fp} AS fp, CAST(min(doc_id) AS BIGINT) AS canonical_id, CAST(count(*) AS BIGINT) AS dup_count
FROM d GROUP BY fp HAVING count(*) > 1 ORDER BY canonical_id
""",
        # blocks_table over the documents source: plain payloads tokenize
        # to exactly one kept 'text' block spanning the whole payload
        # (the same passthrough property the extract_documents oracle
        # proves), so the UDTF-shaped view has an exact SQL twin here;
        # multi-block html/pdf shapes stay pytest-gated on the synthetic
        # corpus (tests/test_core.py, blocks-vs-pipeline consistency)
        "blocks_table": """
SELECT source AS conv_id,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
       CAST(0 AS INTEGER) AS block_idx,
       'text' AS label,
       TRUE AS kept,
       CAST(0 AS INTEGER) AS "start",
       CAST(length(text) AS INTEGER) AS "end",
       substr(text, 1, 120) AS snippet
FROM documents
""",
        "curation_funnel_full": _funnel_full_sql(),
        "chunk_documents": """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents),
e AS (
  SELECT doc_id, w,
         unnest(generate_series(0,
           CAST(1 + greatest(ceil((n - 64) * 1.0 / 48), 0) AS INTEGER) - 1)) AS ci
  FROM d)
SELECT doc_id,
       CAST(ci AS INTEGER) AS chunk_idx,
       CAST(len(w[ci * 48 + 1 : ci * 48 + 64]) AS INTEGER) AS n_words,
       md5(array_to_string(w[ci * 48 + 1 : ci * 48 + 64], ' ')) AS chunk_fp
FROM e ORDER BY doc_id, chunk_idx
""",
        "pack_sequences": r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
p AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM t)
SELECT CAST(floor(prefix / 512.0) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM p GROUP BY seq_id ORDER BY seq_id
""",
        "incremental_minhash_dedup": _incremental_minhash_sql(),
        "minhash_lsh_pairs": _minhash_pairs_sql(),
        "simhash_near_dups": _simhash_pairs_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "near_dedup_corpus": _near_dedup_corpus_sql(),
        "quality_aware_dedup": _quality_aware_dedup_sql(),
        "verified_near_dedup": _verified_near_dedup_sql(),
        "incremental_verified_dedup": _incremental_verified_dedup_sql(),
        "minhash_jaccard_estimates": _minhash_jaccard_estimates_sql(),
        "blocklist_filter": _blocklist_filter_sql(),
        "temperature_mixture": _temperature_mixture_sql(),
        "vocab_coverage": _vocab_coverage_sql(),
        "dedup_survivors": f"""
WITH d AS (SELECT doc_id, {qualify_fp} AS fp FROM documents)
SELECT doc_id,
       CAST(min(doc_id) OVER (PARTITION BY fp) AS BIGINT) AS canonical_id,
       (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS survivor
FROM d ORDER BY doc_id
""",
        "fuzzy_name_pairs": """
WITH r AS (
  SELECT p_partkey, p_name,
         row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rnk
  FROM part)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 10
WHERE levenshtein(a.p_name, b.p_name) <= 8
ORDER BY key_a, key_b
""",
        "incremental_dedup": f"""
WITH d AS (SELECT doc_id, {qualify_fp} AS fp FROM documents),
existing AS (SELECT DISTINCT fp FROM d WHERE doc_id < {_ingest_boundary()}),
new AS (SELECT * FROM d WHERE doc_id >= {_ingest_boundary()})
SELECT doc_id,
       CASE WHEN fp IN (SELECT fp FROM existing) THEN 'dup_of_existing' ELSE 'new' END AS verdict
FROM new ORDER BY doc_id
""",
        "ngram_jaccard_pairs": shingle_cte
        + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, n_inter,
       CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 9 * n_inter >= 4 * (sa.n_sh + sb.n_sh)
ORDER BY doc_a, doc_b
""",
        "quantize_embeddings": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e),
c AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                                     ELSE CAST(floor(x / scale + 0.5) AS INTEGER) END) AS codes
  FROM s)
SELECT vec_id,
       CAST(floor(scale * 1000000000.0) AS BIGINT) AS scale_e9,
       md5(array_to_string(codes, ',')) AS codes_fp,
       CAST(list_max(list_transform(list_zip(v, codes),
              p -> floor(abs(p[1] - CAST(p[2] AS DOUBLE) * scale) * 1000000.0))) AS BIGINT) AS max_err_e6
FROM c ORDER BY vec_id
""",
        "knn_bruteforce": emb_cte
        + f"""
, pairs AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {_cos_e6('q', 'v')} AS score_e6
  FROM e q CROSS JOIN e v
  WHERE q.vec_id < 8 AND v.vec_id != q.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, score_e6,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_e6 DESC, neighbor_id ASC) AS INTEGER) AS rnk
  FROM pairs)
SELECT query_id, neighbor_id, rnk, score_e6 FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
""",
        "knn_ivf": _ivf_oracle_sql(),
        "knn_ivf_multiprobe": _ivf_oracle_sql(nprobe=2),
        "near_dup_cosine": emb_cte
        + f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_e6('a', 'b')} AS score_e6
FROM e a CROSS JOIN e b
WHERE a.vec_id < b.vec_id AND {_cos_e6('a', 'b')} >= 400000
ORDER BY id_a, id_b
""",
    }
