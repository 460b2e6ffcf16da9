"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship span-extraction over sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2 +
training-data ops); each takes (spark, sf_dir) → DataFrame.
``oracle_sql()`` — exact DuckDB twins.  Column names/types and all hash
functions (md5), decimal aggregation, and rounding are kept in lockstep with
the Spark plans so order-insensitive value-hashes match bit-for-bit.

Ops with no SQL twin (approximate LSH ANN, the Arrow extraction kernel on
the contract table, media feature stubs) are listed in ``queries()`` only —
the driver records the weaker rows-only check for those; their real
correctness gate is the pandas-oracle pytest suite (tests/).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

# the driver may import this file from any CWD; make the package resolvable
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.functions import text as T
from ocr_spark.operators import dedup as D
from ocr_spark.operators import graph as GR
from ocr_spark.operators import relational as R
from ocr_spark.operators import sampling as SP
from ocr_spark.operators import similarity as S

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB) — must mirror ocr_spark/functions/text.py
# ---------------------------------------------------------------------------

_PUNCT_SQL = T.PUNCT_CHARS.replace("'", "''")


def _nt_of(col: str) -> str:
    """Normalized non-empty tokens of an arbitrary text column (the
    functions/text.py norm_tokens twin)."""
    return (
        f"list_filter(list_transform(regexp_split_to_array(trim({col}), "
        f"'\\s+'), w -> lower(translate(w, '{_PUNCT_SQL}', ''))), "
        "x -> x <> '')"
    )


# normalized non-empty tokens of documents.text
_NT = _nt_of("text")
# raw non-empty tokens
_RT = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"

# vbyte byte-count CASE, generated by the operator module so the
# postings_codec twin shares the exact thresholds.
from ocr_spark.operators.index import vbyte_case_sql as _vbyte_case

# MinHash permutation modulus — the SAME constant the Spark plans use
_MH_P = T.MINHASH_PRIME


def _pii_sql_fragments() -> tuple[str, str]:
    """(counts-select-list, scrub-expression) built from the SAME
    PII_RULES constants the Spark plan uses — patterns can never drift
    between engines.  DuckDB needs the 'g' flag (RE2 replaces only the
    first match by default; Java replaces all)."""
    from ocr_spark.functions import pii as PII

    names = ("n_emails", "n_ips", "n_longnums")
    counts = ",\n       ".join(
        f"cast(len(regexp_extract_all(t, '{pat}')) as bigint) as {name}"
        for (pat, _), name in zip(PII.PII_RULES, names)
    )
    scrub = "t"
    for pat, rep in PII.PII_RULES:
        scrub = f"regexp_replace({scrub}, '{pat}', '{rep}', 'g')"
    return counts, scrub


def _analyzer_sql() -> str:
    """ES-analyzer tokens (F13): whitespace → lower → asciifold →
    stopword drop — mirrors ocr_spark/functions/text.py analyzer_tokens."""
    stop = ", ".join(f"'{w}'" for w in T.STOPWORDS)
    return (
        "list_filter(list_transform(regexp_split_to_array(trim(text), '\\s+'), "
        f"w -> translate(lower(w), '{T.ACCENT_SRC}', '{T.ACCENT_DST}')), "
        f"t -> t <> '' and t not in ({stop}))"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# extraction-semantics queries over the flat documents table
# ---------------------------------------------------------------------------

def q_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship flat-table extraction: tokens → text spans, empties dropped
    (parse_hocr.py:67-69 analog), dense reading-order offsets — the
    Catalyst-only twin of operators/extract.py."""
    docs = _docs(spark, sf_dir)
    toks = F.filter(T.tokens(F.col("text")), lambda t: t != "")
    return docs.select(
        "doc_id", F.posexplode(toks).alias("offset", "text")
    ).select("doc_id", "offset", F.lit("text").alias("kind"), "text")


def q_word_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word index (A1 analog, export.py:492-530): normalized token counts
    per document."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.explode(T.norm_tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )


def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word + char counts per doc (A2, file.py:536-549)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.filter(T.tokens(F.col("text")), lambda t: t != "")).cast("bigint").alias("n_words"),
        F.length("text").cast("bigint").alias("n_chars_m"),
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 vocabulary (top-k agg; O8 analog)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(T.norm_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(100)
    )


def q_dict_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary membership via broadcast join (J1, text.py:21-43): corpus =
    distinct lowercased part-name tokens; per-doc hit count."""
    docs = _docs(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    corpus = (
        part.select(F.explode(F.split(F.lower(F.col("p_name")), " ")).alias("word"))
        .distinct()
    )
    words = docs.select(
        "doc_id", F.explode(T.norm_tokens(F.col("text"))).alias("word")
    )
    return (
        words.join(F.broadcast(corpus), "word")
        .groupBy("doc_id")
        .agg(F.count("*").alias("dict_hits"))
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.doc_fingerprint(F.col("text")).alias("fp"),
        F.size(T.norm_tokens(F.col("text"))).cast("bigint").alias("n_words"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("toks", T.norm_tokens(F.col("text")))
    scores = T.lang_scores(F.col("toks"))
    return docs.select(
        "doc_id",
        T.lang_pred(F.col("toks")).alias("lang_pred"),
        *[scores[lang].cast("bigint").alias(f"score_{lang}") for lang in sorted(T.LANG_STOPWORDS)],
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("toks", T.norm_tokens(F.col("text")))
    n_tok = F.size("toks").cast("bigint")
    sum_len = F.aggregate(
        F.transform(F.col("toks"), lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    n_stop = T.stopword_count(F.col("toks")).cast("bigint")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stop"),
        F.round(sum_len / n_tok, 4).alias("avg_token_len"),
        F.round(n_stop / n_tok, 4).alias("stop_ratio"),
    ).where(n_tok > 0)


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", T.bpe_token_count(F.col("text")).cast("bigint").alias("n_bpe")
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (SURVEY §2.8 array/map/JSON row: from_json
    with explicit schema) over the events props column."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "k bigint")["k"]
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length histogram: 100-char buckets over n_chars (width_bucket
    family)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy(
            F.floor(F.col("n_chars") / 100).cast("bigint").alias("bucket")
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket")
    )


def q_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-distinct aggregation (§2.5 distinct-agg; corpus-level A7
    terms-agg analog): per source, exact distinct vocabulary / language /
    document counts plus total token volume.

    The exact form shuffles every distinct (source, word) pair — correct at
    any scale but O(distinct tokens) network.  ``vocab_hll`` below is the
    fixed-memory sketch twin; this pair documents the exact-vs-sketch
    trade at 100 TB."""
    docs = _docs(spark, sf_dir)
    ex = docs.select(
        "source", "lang", "doc_id",
        F.explode(T.norm_tokens(F.col("text"))).alias("word"),
    )
    return (
        ex.groupBy("source")
        .agg(
            F.countDistinct("word").alias("n_vocab"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_tokens"),
        )
        .orderBy("source")
    )


#: deterministic-HLL constants (m=256 registers, 24-bit rho domain,
#: alpha_256 = 0.7213/(1+1.079/256) ≈ 0.71827 as the rational
#: 71827/100000): numerator = 71827·m²·2²⁵, so the estimate is the pure
#: bigint floor(numerator / (S25·100000)) with S25 = Σ 2^(25-Mj).  The
#: linear-counting branch (raw ≤ 2.5m with empty buckets) uses an
#: integer lookup round(m·ln(m/V)) GENERATED IN PYTHON and embedded as
#: the same literal array in BOTH engines — the _threshold_hex idiom —
#: so no runtime transcendental ever crosses the engine boundary.
_HLL_M = 256
_HLL_NUM = 71827 * _HLL_M * _HLL_M * (1 << 25)
_HLL_LC = [
    int(round(_HLL_M * __import__("math").log(_HLL_M / v)))
    for v in range(1, _HLL_M + 1)
]


def q_vocab_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-vocabulary sketch per source —
    md5 register hashing (8-bit bucket, 24-bit rho via length(bin(v)),
    the Kirsch-Mitzenmacher single-hash basis the MinHash path uses),
    pure-bigint harmonic estimate, integer linear-counting lookup for
    the small-range regime.  EXACT DuckDB twin since r4 (every step is
    integer/string arithmetic both engines share); the approximation
    contract vs exact ``distinct_stats`` stays pytest-bounded
    (tests/test_sketches.py, rsd ≈ 1.04/√256).

    The 100 TB shape for distinct counting: registers are a
    (source, bucket) grouping — ≤ m rows per source reach the shuffle
    after map-side partial max, vs the exact form's shuffle of every
    distinct (source, word) pair.  Spark's native
    ``approx_count_distinct`` shares this shape and stays interchangeable
    at scale; this formulation is the cross-engine-checkable one."""
    docs = _docs(spark, sf_dir)
    ex = docs.select(
        "source", F.explode(T.norm_tokens(F.col("text"))).alias("word")
    )
    regs = (
        ex.selectExpr(
            "source",
            "cast(conv(substring(md5(word), 1, 2), 16, 10) as int) "
            "as bucket",
            "cast(conv(substring(md5(word), 3, 6), 16, 10) as bigint) as v",
        )
        .selectExpr(
            "source",
            "bucket",
            "cast(case when v = 0 then 25 else 25 - length(bin(v)) end "
            "as int) as rho",
        )
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("mj"))
    )
    lc_arr = "array(" + ", ".join(str(x) for x in _HLL_LC) + ")"
    agg = regs.groupBy("source").agg(
        F.expr("sum(shiftleft(cast(1 as bigint), 25 - mj))").alias("s_obs"),
        F.count("*").alias("n_obs"),
    )
    return (
        agg.selectExpr(
            "source",
            "cast(n_obs as int) as n_buckets_used",
            f"cast({_HLL_NUM} div ((s_obs + (256 - n_obs) * 33554432) "
            "* 100000) as bigint) as raw_est",
        )
        .selectExpr(
            "source",
            "n_buckets_used",
            f"cast(case when n_buckets_used < 256 and raw_est <= 640 "
            f"then element_at({lc_arr}, 256 - n_buckets_used) "
            "else raw_est end as bigint) as n_vocab_hll",
        )
        .orderBy("source")
    )


def q_vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters per source — d=4 md5 hash rows ×
    w=1024 buckets, estimate = min over rows, top-10 by (est desc, word
    asc).  Deterministic and EXACT-DuckDB-twinned since r4 (md5
    bucketing and bigint counts are engine-shared); the CMS contract —
    est ≥ exact, inflation ≤ εN — stays pytest-bounded
    (tests/test_sketches.py), as does top-k containment of every true
    heavy hitter.

    The 100 TB shape for "most common tokens": the sketch build groups
    by (source, row, bucket) — ≤ d·w rows per source reach the shuffle
    after map-side partial counts, vs the exact form's shuffle of every
    distinct (source, word) pair.  The probe enumerates candidate words
    against the broadcast-size sketch; a streaming deployment keeps the
    tracked-map candidates instead (Spark's native ``approx_top_k``
    shares that shape and stays interchangeable) — this formulation is
    the cross-engine-checkable one."""
    docs = _docs(spark, sf_dir)
    ex = docs.select(
        "source", F.explode(T.norm_tokens(F.col("text"))).alias("word")
    )
    bkt = (
        "cast(conv(substring(md5(concat(cast(r as string), '|', word)), "
        "1, 5), 16, 10) as bigint) % 1024"
    )
    sketch = (
        ex.selectExpr("source", "word", "explode(array(0, 1, 2, 3)) as r")
        .selectExpr("source", "r", f"{bkt} as bucket")
        .groupBy("source", "r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = (
        ex.distinct()
        .selectExpr(
            "source", "word", "explode(array(0, 1, 2, 3)) as r"
        )
        .selectExpr("source", "word", "r", f"{bkt} as bucket")
    )
    est = (
        cand.join(sketch, ["source", "r", "bucket"])
        .groupBy("source", "word")
        .agg(F.min("c").alias("est_count"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.col("est_count").desc(), F.col("word").asc()
    )
    return (
        est.withColumn("rk", F.row_number().over(w).cast("int"))
        .where("rk <= 10")
        .select("source", "rk", "word", "est_count")
        .orderBy("source", "rk", "word")
    )


def q_doclen_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampled quantile sketch of document length per
    language: an md5-keyed 25% Bernoulli sample (the sample_stratified
    idiom — replays bit-identically anywhere) followed by EXACT
    nearest-rank (type-1) quantiles of the sample, rank = ceil(p·n) in
    pure integer arithmetic.  EXACT DuckDB twin since r4; the
    sample-vs-population rank error is pytest-bounded
    (tests/test_sketches.py).

    At scale the exact per-group percentile sorts each full group; the
    sample bounds that sort to f·n rows.  The mergeable bounded-memory
    alternative (GK, ``percentile_approx``) remains first-class in the
    engine — quality.py ccnet_partition(approx=True) uses it — but its
    internals are not engine-portable; this formulation is the
    cross-engine-checkable one."""
    docs = _docs(spark, sf_dir)
    samp = docs.where(
        "cast(conv(substring(md5(concat('qs|', cast(doc_id as string))), "
        "1, 6), 16, 10) as bigint) % 4 = 0"
    ).select("lang", "doc_id", "n_chars")
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = samp.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.max("n").alias("n_sample"),
            F.max(
                F.expr("case when rn = (n + 1) div 2 then n_chars end")
            ).cast("bigint").alias("p50"),
            F.max(
                F.expr("case when rn = (9 * n + 9) div 10 then n_chars end")
            ).cast("bigint").alias("p90"),
            F.max(
                F.expr(
                    "case when rn = (99 * n + 99) div 100 then n_chars end"
                )
            ).cast("bigint").alias("p99"),
        )
        .select(
            "lang",
            F.col("n_sample").cast("bigint").alias("n_sample"),
            "p50", "p90", "p99",
        )
        .orderBy("lang")
    )


_STRATA_FRACS = {"en": 0.1, "zh": 1.0, "de": 0.5}
_STRATA_DEFAULT = 0.25
_MIX_BUDGETS = {"src0": 400, "src1": 800, "src2": 300}


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample (training-data staple:
    keep 100% of rare languages, 10% of English).  The keep decision is a
    pure function of (doc_id, seed) — md5-prefix < per-stratum threshold —
    so the sample is stable under any repartitioning and replays
    bit-identically in the DuckDB oracle.  One filtered narrow scan; no
    shuffle, no sampleBy partitioning dependence."""
    docs = _docs(spark, sf_dir)
    return SP.stratified_sample(
        docs, "lang", _STRATA_FRACS, seed=42, default_frac=_STRATA_DEFAULT
    ).select("doc_id", "lang", "source")


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing: per source, take documents in the
    deterministic hash order until the source's token budget is crossed
    (the crossing doc is kept).  One window cumulative sum per source;
    at 10^12 rows a deterministic pre-sample (same hash order ⇒ same
    prefix) bounds the sort — operators/sampling.py corpus_mix."""
    docs = _docs(spark, sf_dir).withColumn(
        "n_tokens",
        F.size(F.filter(T.tokens(F.col("text")), lambda t: t != "")),
    )
    return SP.corpus_mix(docs, _MIX_BUDGETS, seed=42)


def q_phrase_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-phrase lexicon tagging (operators/search.py phrase_tag —
    the FlashText/Aho-Corasick role): the lexicon is synthesized from
    the corpus itself (tokens 3-5 of every doc_id % 89 == 0 document,
    phrase_id = source doc), so real multi-token hits are guaranteed at
    every sf; slot-cover votes, overlaps counted, broadcast lexicon."""
    from ocr_spark.operators.search import phrase_tag

    docs = _docs(spark, sf_dir)
    lex = docs.where(F.col("doc_id") % 89 == 0).select(
        F.col("doc_id").alias("phrase_id"),
        F.array_join(
            F.slice(T.norm_tokens(F.col("text")), 3, 3), " "
        ).alias("phrase"),
    )
    return phrase_tag(docs, lex)


def q_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax per-language token-budget allocation (operators/sampling.py
    unimax_budget — Chung et al. 2023): water-fill a budget of 1/3 of
    the corpus tokens across languages, 2-epoch cap, closed form in pure
    bigint arithmetic.  The budget scalar is derived from the same data
    in both engines, so the gate is sf-independent."""
    from ocr_spark.operators.sampling import unimax_budget

    docs = _docs(spark, sf_dir)
    total = (
        docs.where(F.col("lang").isNotNull())
        .select(F.sum(F.size(T.norm_tokens(F.col("text")))).cast("bigint"))
        .first()[0]
    )
    return unimax_budget(docs, int(total) // 3, max_epochs=2)


def q_unimax_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UniMax allocation materialized as a per-document epoch plan
    (operators/sampling.py unimax_plan): full epochs per language plus a
    deterministic-hash-order prefix fill of the remainder — n_copies per
    doc, ready for epoch_shuffle.  Distributed-prefix form: per-doc
    windows run within (lang, hash-bucket), never one mega-partition per
    language; the oracle's single plain window is provably the same
    prefix because the bucket is a prefix of the ordering key."""
    from ocr_spark.operators.sampling import unimax_plan

    docs = _docs(spark, sf_dir)
    total = (
        docs.where(F.col("lang").isNotNull())
        .select(F.sum(F.size(T.norm_tokens(F.col("text")))).cast("bigint"))
        .first()[0]
    )
    return unimax_plan(docs, int(total) // 3, max_epochs=2)


def q_tokenize_asciifold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ES-analyzer tokenization (F13, elastic_search.py:19-36):
    whitespace → lower → asciifold → stopword drop; per-token counts."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "doc_id", F.explode(T.analyzer_tokens(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )


def q_filename_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 filename-analyzer half (ES pattern analyzer, \\W|_ split +
    lowercase — elastic_search.py:14-18) over synthetic path-shaped doc
    names; per-(doc, token) counts like an ES filename field index."""
    docs = _docs(spark, sf_dir)
    fname = F.concat(
        F.lit("Files/"), F.col("source"), F.lit("/Doc_"),
        F.col("doc_id").cast("string"), F.lit(".pdf"),
    )
    return (
        docs.select(
            "doc_id",
            F.explode(T.filename_tokens(fname)).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )


def q_fuzzy_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dictionary match (F14 analog, elastic_search.py:158-189
    fuzziness=AUTO): distinct doc words within levenshtein distance 1-2 of
    a corpus word (distinct part-name tokens), excluding exact matches.

    Blocked, not all-pairs: edit distance ≤ 2 implies |len(a) - len(b)| ≤ 2,
    so each corpus word is exploded to its admissible length band and the
    join is a broadcast HASH join on length — the expensive levenshtein
    runs only within length buckets, never over the |vocab| × |corpus|
    cross space (round-1 shipped a BroadcastNestedLoopJoin here).  The
    length condition is implied by the distance predicate, so the result
    set is unchanged (oracle stays the plain cross form)."""
    docs = _docs(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    corpus = (
        part.select(F.explode(F.split(F.lower(F.col("p_name")), " ")).alias("cw"))
        .distinct()
        .select(
            "cw",
            F.explode(
                F.sequence(
                    F.greatest(F.length("cw") - 2, F.lit(1)),
                    F.length("cw") + 2,
                )
            ).alias("wlen"),
        )
    )
    words = (
        docs.select(F.explode(T.norm_tokens(F.col("text"))).alias("word"))
        .distinct()
        .withColumn("wlen", F.length("word"))
    )
    return (
        words.join(F.broadcast(corpus), "wlen")
        .where(F.levenshtein("word", "cw").between(1, 2))
        .select(
            "word", "cw",
            F.levenshtein("word", "cw").cast("bigint").alias("dist"),
        )
        .orderBy("word", "cw")
    )


def q_dict_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 full fidelity (compare_dicts_words, server/src/utils/text.py:21-43):
    per-language corpus wordlists, union of the SELECTED languages only,
    broadcast; output is the {word: bool} map — one row per distinct OCR
    word including in_dict=false rows (the round-1 semi-join kept hits
    only).  Languages are synthesized deterministically from part-name
    tokens (first letter a-m → 'pt', else 'en'); selection = ['pt'], so
    'en' corpus words must NOT mark true."""
    docs = _docs(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    corpus = (
        part.select(F.explode(F.split(F.lower(F.col("p_name")), " ")).alias("cw"))
        .distinct()
        .withColumn(
            "lang", F.when(F.col("cw") < "n", F.lit("pt")).otherwise(F.lit("en"))
        )
    )
    selected = corpus.where(F.col("lang") == "pt").select("cw")
    words = (
        docs.select(F.explode(T.norm_tokens(F.col("text"))).alias("word"))
        .distinct()
    )
    return (
        words.join(
            F.broadcast(selected.withColumn("hit", F.lit(True))),
            words.word == selected.cw,
            "left",
        )
        .select("word", F.coalesce("hit", F.lit(False)).alias("in_dict"))
        .orderBy("word")
    )


def q_export_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 export_csv string assembly (export.py:193-232) as an exact
    cross-engine query: per-doc word index rows rendered
    ``word, cnt, "p1, p2"`` with the reference header line, the blank
    second row, and the ``lower(w)+w`` doubling sort for line numbers
    (export.py:216-221); pages are 100-token blocks (flat-table analog,
    as in word_pages_raw)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    w = docs.select(
        "doc_id", F.posexplode(T.norm_tokens(F.col("text"))).alias("i", "word")
    ).withColumn("page", F.floor(F.col("i") / 100).cast("bigint"))
    idx = w.groupBy("doc_id", "word").agg(
        F.count("*").alias("cnt"),
        F.array_sort(F.collect_set("page")).alias("pages"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.concat("word", "word"))
    rows = idx.select(
        "doc_id",
        (F.row_number().over(win) + 1).cast("bigint").alias("line_no"),
        F.concat(
            F.col("word"), F.lit(", "), F.col("cnt").cast("string"),
            F.lit(', "'),
            F.array_join(
                F.transform("pages", lambda p: p.cast("string")), ", "
            ),
            F.lit('"'),
        ).alias("value"),
    )
    ids = docs.select("doc_id").distinct()
    header = ids.select(
        "doc_id", F.lit(0).cast("bigint").alias("line_no"),
        F.lit("Palavra, Ocorrências, Páginas").alias("value"),
    )
    blank = ids.select(
        "doc_id", F.lit(1).cast("bigint").alias("line_no"),
        F.lit("").alias("value"),
    )
    return header.unionByName(blank).unionByName(rows)


def q_export_txt_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/F2 delimited text assembly (export.py:149-187): per page
    ``----- PAGE %04d -----\\n\\n<text>\\n\\n`` concatenated in page order
    (pages = 100-token blocks on the flat table); exact cross-engine
    string, incl. the %04d zero padding (export.py:183).

    This shuffle-assembled form exists for the DuckDB oracle; the
    production path is the extraction kernel's zero-shuffle per-document
    ``doc_text_delim`` (operators/extract.py), where assembly happens
    inside the Arrow batch."""
    docs = _docs(spark, sf_dir)
    w = docs.select(
        "doc_id", F.posexplode(T.norm_tokens(F.col("text"))).alias("i", "word")
    ).withColumn("page", F.floor(F.col("i") / 100).cast("bigint"))
    pages = w.groupBy("doc_id", "page").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("page_text")
    )
    per_page = pages.select(
        "doc_id", "page",
        F.concat(
            F.format_string("----- PAGE %04d -----", F.col("page") + 1),
            F.lit("\n\n"), F.col("page_text"), F.lit("\n\n"),
        ).alias("chunk"),
    )
    return (
        per_page.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("page", "chunk"))),
                    lambda s: s["chunk"],
                ),
                "",
            ).alias("txt")
        )
        .select("doc_id", "txt", F.length("txt").cast("bigint").alias("n_chars_t"))
    )


_MM_TERMS = ("fast", "merge", "src3")


def q_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 — ES multi_match/best_fields/fuzziness=AUTO analog
    (server/src/elastic_search.py:158-189): query terms scored against
    BOTH the text field and the document-name field ('source' stands in
    for Document); per-field score = Σ(2·exact + 1·fuzzy(dist=1)) term
    hits over analyzer tokens, best_fields takes the max field score;
    rank desc with doc_id tie-break, hit cap 1000 (elastic_search.py:136).
    Deterministic integer scoring so the DuckDB twin matches exactly.

    Plan note: the distance predicate has no equi-key, so Spark picks
    BroadcastNestedLoopJoin — benign here because the broadcast side is
    the QUERY TERM list (O(query length), 3 rows), making the scan linear
    per token; this is the inherent shape of fuzzy scoring, unlike the
    vocab×corpus cross the blocked fuzzy_dict avoids."""
    docs = _docs(spark, sf_dir)
    terms = spark.createDataFrame([(t,) for t in _MM_TERMS], "term string")
    toks = docs.select(
        "doc_id", F.explode(T.analyzer_tokens(F.col("text"))).alias("tok")
    )
    w = F.when(F.col("tok") == F.col("term"), F.lit(2)).otherwise(F.lit(1))
    s_text = (
        toks.join(F.broadcast(terms), F.levenshtein("tok", "term") <= 1)
        .groupBy("doc_id")
        .agg(F.sum(w).alias("s_text"))
    )
    names = docs.select("doc_id", F.col("source").alias("tok"))
    s_name = (
        names.join(F.broadcast(terms), F.levenshtein("tok", "term") <= 1)
        .groupBy("doc_id")
        .agg(F.sum(w).alias("s_name"))
    )
    return (
        docs.select("doc_id")
        .join(s_text, "doc_id", "left")
        .join(s_name, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("s_text", F.lit(0)).cast("bigint").alias("s_text"),
            F.coalesce("s_name", F.lit(0)).cast("bigint").alias("s_name"),
            F.greatest(
                F.coalesce("s_text", F.lit(0)), F.coalesce("s_name", F.lit(0))
            ).cast("bigint").alias("score"),
        )
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(1000)
    )


_BM25_TERMS = ("dup", "merge", "fast")
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/search.py bm25_rank): the Lucene
    default-similarity analog of the reference's ES-backed search ranking
    (elastic_search.py:158-189).  'dup' is the corpus's one rare term
    (df≪D), so the idf spread is real, not degenerate."""
    from ocr_spark.operators.search import bm25_rank

    return bm25_rank(_docs(spark, sf_dir), _BM25_TERMS, top_n=100)


# File-manifest fixture (compaction_plan): three doc_id-only expressions
# valid as Spark selectExpr AND DuckDB SQL verbatim.  Sizes 1 KB–4 MB
# with a 32 MB over-target branch; 6 partition dirs; target 8 MB.
_MANIFEST_DIR = "concat('dt=', cast(doc_id % 6 as string))"
_MANIFEST_PATH = "concat('f-', cast(doc_id as string), '.parquet')"
_MANIFEST_BYTES = (
    "case when doc_id % 11 = 0 then cast(33554432 as bigint)"
    " else cast(((doc_id * 37) % 997) * 4096 + 1024 as bigint) end"
)
_COMPACT_TARGET = 8 * 1024 * 1024


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (jobs/compaction.py): synthesized
    file manifest → deterministic partition-local rewrite jobs (bytes-
    desc prefix-sum binning, crossing file kept, over-target and
    singleton files left as-is).  Two bounded window shuffles."""
    from ocr_spark.jobs.compaction import compaction_plan

    manifest = _docs(spark, sf_dir).selectExpr(
        f"{_MANIFEST_DIR} as dir",
        f"{_MANIFEST_PATH} as path",
        f"{_MANIFEST_BYTES} as bytes",
    )
    return compaction_plan(manifest, _COMPACT_TARGET)


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap declaration discovery (operators/web.py robots_sitemaps):
    the RFC 9309 Sitemap records of the synthesized robots corpus —
    global (outside user-agent groups), case-insensitive, comment-
    stripped, absolute-URL values only.  Zero-shuffle line projection."""
    from ocr_spark.operators.web import robots_sitemaps

    return robots_sitemaps(_robots_df(spark, sf_dir))


def q_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets (operators/search.py kwic_snippets):
    every occurrence of the BM25 query terms with its ±3-token window —
    the search-result snippet surface (the reference editor's
    match-highlighting move over token positions).  Zero shuffle."""
    from ocr_spark.operators.search import kwic_snippets

    return kwic_snippets(_docs(spark, sf_dir), _BM25_TERMS, context=3)


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES more_like_this analog (operators/search.py more_like_this):
    seed = min(doc_id); seed terms ranked tf·idf (max_doc_freq off per
    the ES default — idf demotes common terms), top-8 selected,
    BM25-retrieved with the seed excluded.  The driver-side term list
    is ≤ 8 strings (the kmeans-centroid-sized collect)."""
    from ocr_spark.operators.search import more_like_this

    docs = _docs(spark, sf_dir)
    seed = int(docs.agg(F.min("doc_id")).first()[0])
    return more_like_this(docs, seed, max_terms=8, top_n=50)


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document: composes the word-index aggregate
    with document frequency.  Scoring uses exact integer ratios
    (tf * N / df, no log) so both engines produce bit-identical doubles;
    rank ties break on the word."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode(T.norm_tokens(F.col("text"))).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_tbl = (
        words.distinct().groupBy("word").agg(F.count("*").alias("df"))
    )
    n_docs = docs.count()
    scored = tf.join(df_tbl, "word").withColumn(
        "score", F.round(F.col("tf") * F.lit(n_docs) / F.col("df"), 6)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "rk", "word", "tf", "df", "score")
    )


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation quartiles per order status (percentile
    family; Spark `percentile` ≡ DuckDB `quantile_cont` on doubles)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    price = F.col("o_totalprice").cast("decimal(18,2)").cast("double")
    q = F.percentile(price, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(q[0], 4).alias("p25"),
            F.round(q[1], 4).alias("p50"),
            F.round(q[2], 4).alias("p75"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_dedup(_docs(spark, sf_dir), threshold=0.0)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_block(_docs(spark, sf_dir), threshold=0.0)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_signature(_docs(spark, sf_dir))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: the dedup_minhash_lsh pair set (same
    tuning) fed through large-star/small-star connected components
    (operators/graph.py) → per-doc cluster representative + size.  The
    iterative-graph-algorithm gate: its DuckDB twin closes the same pair
    set with a recursive CTE."""
    pairs = D.minhash_lsh_dedup(_docs(spark, sf_dir), threshold=0.0)
    return GR.neardup_clusters(pairs)


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster canonicalization (operators/graph.py
    canonical_select): within each transitive near-dup cluster keep the
    highest-n_chars document, doc_id tie-break — the KEEP policy on top
    of dedup_components."""
    pairs = D.minhash_lsh_dedup(_docs(spark, sf_dir), threshold=0.0)
    scores = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").alias("score")
    )
    return GR.canonical_select(GR.neardup_clusters(pairs), scores)


def q_web_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed web-curation pipeline (jobs/web_curate.py): url dedup
    → domain prior → repetition filter → near-dup canonical keep →
    leakage-safe split, end-to-end hash-gated against one recursive
    DuckDB twin."""
    from ocr_spark.jobs.web_curate import curate_web

    out, _ = curate_web(_docs_with_url(spark, sf_dir))
    return out


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment (operators/sampling.py
    leakage_safe_split): split keyed on the near-dup CLUSTER
    representative, so no near-duplicate pair ever straddles splits."""
    pairs = D.minhash_lsh_dedup(_docs(spark, sf_dir), threshold=0.0)
    return SP.leakage_safe_split(
        _docs(spark, sf_dir), GR.neardup_clusters(pairs)
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle (operators/
    sampling.py epoch_shuffle): md5(seed|epoch|doc_id) order key, global
    order expressed as (shard, pos-within-shard) — never a single-task
    global row_number.  2 epochs × 8 shards over documents."""
    return SP.epoch_shuffle(_docs(spark, sf_dir), epochs=2, n_shards=8)


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal (CCNet/RefinedWeb paragraph-dedup
    shape): 16-token windows shared by >2 docs are dropped and the
    surviving text reassembled in order (operators/dedup.py
    repeated_chunk_filter)."""
    return D.repeated_chunk_filter(_docs(spark, sf_dir), chunk=16, max_docs=2)


def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring removal (Lee et al. 2022 ExactSubstr,
    stride-1 window form): any token position covered by an 8-token window
    shared by ≥2 distinct docs is scrubbed, survivors reassembled in order
    (operators/dedup.py duplicated_substring_scrub)."""
    return D.duplicated_substring_scrub(
        _docs(spark, sf_dir), window=8, min_dup_docs=2
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup check: the 'src0' batch against the rest of
    the corpus — cross-side banded-MinHash candidates, exact-Jaccard
    verified (operators/dedup.py incremental_minhash_dedup)."""
    docs = _docs(spark, sf_dir)
    return D.incremental_minhash_dedup(
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") != "src0"),
        threshold=0.0,
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter (token-level analogs):
    duplicate-trigram fraction + top-bigram share + flag verdict
    (operators/quality.py doc_repetition)."""
    from ocr_spark.operators.quality import doc_repetition

    return doc_repetition(_docs(spark, sf_dir))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 13-gram shape): training docs
    sharing any word n-gram with the eval slice (source='src1') are
    flagged with exact overlap stats (operators/contamination.py).  n=4
    here because the sf tables carry ~54-token docs — see the operator
    docstring; production default is 13."""
    from ocr_spark.operators.contamination import ngram_decontaminate

    docs = _docs(spark, sf_dir)
    return ngram_decontaminate(
        docs.where(F.col("source") != "src1"),
        docs.where(F.col("source") == "src1"),
        n=4,
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/pii.py): per-category counts on the raw
    text + placeholder-scrubbed text.  The synthetic corpus carries no
    PII, so deterministic PII is INJECTED first (a doc_id-keyed case
    expression, identical in the oracle) — the scrub paths are exercised
    on real matches, not vacuously green."""
    from ocr_spark.functions.pii import pii_counts, scrub_pii

    doc_s = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" contact user"), doc_s, F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit(" server at 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit(" ref no "),
                (F.lit(1000000) + F.col("doc_id") * 13).cast("string"),
            ),
        )
        .otherwise(F.lit("")),
    )
    base = _docs(spark, sf_dir).select("doc_id", injected.alias("_t"))
    counts = pii_counts(F.col("_t"))
    return base.select(
        "doc_id",
        counts["n_emails"].cast("bigint").alias("n_emails"),
        counts["n_ips"].cast("bigint").alias("n_ips"),
        counts["n_longnums"].cast("bigint").alias("n_longnums"),
        scrub_pii(F.col("_t")).alias("clean_text"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): per-source token streams
    cut into fixed 64-token training windows, docs packed back-to-back in
    the deterministic hash order.  64 (not a production 2k-8k) so ~54-token
    docs straddle window boundaries and the split/reassembly paths are
    exercised."""
    from ocr_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=64, seed=42)


# Deterministic HTML fixture for html_extract, built from documents columns
# INSIDE the query (same pattern as pii_scrub's injected PII: the synthetic
# corpus has no HTML, so a web page is synthesized around each doc's text —
# identical expression in both engines; this string is valid Spark SQL AND
# DuckDB SQL verbatim).  It exercises every extractor branch: chrome
# containers (head/title/style/script with a '</p>' trap, header, nav,
# aside, footer), a comment, both img quote styles + uppercase tag, HTML
# entities incl. the &amp;lt; double-encoding, a kept block with an inline
# link below the density threshold, a dropped link farm, and a dropped
# too-short block.
_HTML_SYNTH = """concat(
 '<html><head><title>Doc ', cast(doc_id as string),
 '</title><style>p{margin:0}</style><script>var trap = "</p>";</script></head><body>',
 '<header><h1>Site</h1><a href="/">Home</a></header>',
 '<nav><ul><li><a href="/a">Section A</a></li><li><a href="/b">Section B</a></li></ul></nav>',
 '<main><h2>', substring(text, 1, 24), '</h2>',
 '<p>', substring(text, 1, cast(floor(length(text)/2) as int)), '</p>',
 case when doc_id % 2 = 0
      then concat('<img src="img/', cast(doc_id as string), '_0.png" alt="fig">')
      else '' end,
 case when doc_id % 4 = 1
      then concat('<IMG SRC=''img/', cast(doc_id as string), '_1.jpg''>')
      else '' end,
 '<div>', substring(text, cast(floor(length(text)/2) as int) + 1, length(text)),
 ' Fish &amp; Chips &lt;real&gt; <a href="/ref">see also reference</a></div>',
 '<p><a href="/x">Read more</a> <a href="/y">Next page</a></p>',
 '<p>Short.</p>',
 '<!-- tracking pixel --><aside>Sponsored: <a href="/buy">Buy now</a></aside>',
 '<footer>(c) 2026 Example Site</footer></body></html>')"""


# Outlink fixture (html_links / link_edges): depends ONLY on doc_id (so the
# twin composes with the urls CTE without re-joining documents) and — like
# _HTML_SYNTH — is valid Spark SQL AND DuckDB SQL verbatim.  Branches
# exercised: absolute href (graph edge), absolute multi-suffix-TLD target,
# protocol-relative + single-quoted href, root-relative (self-domain →
# dropped from edges), conditional rel=nofollow, mailto (no edge), relative
# path (no edge), uppercase no-href anchor, a literal href="…" inside the
# anchor BODY (must not be read), and a comment-wrapped ghost anchor (must
# not be extracted).
_LINKS_SYNTH = """concat(
 '<html><body><p>Intro text for the outlink fixture page.</p>',
 '<a href="https://peer-', cast(doc_id % 7 as string), '.example.org/p/',
 cast(doc_id % 200 as string), '">Peer <b>', cast(doc_id % 200 as string),
 '</b> page</a>',
 '<a href="http://news.outlet-', cast(doc_id % 5 as string),
 '.co.uk/story">News &amp; views</a>',
 '<a href=''//cdn.assets-', cast(doc_id % 3 as string),
 '.net/lib.js''>CDN asset</a>',
 '<a href="/self/page-', cast(doc_id % 200 as string), '">Local nav</a>',
 case when doc_id % 2 = 0
      then '<a rel="nofollow" href="https://ads.sponsor-net.com/buy">Sponsored</a>'
      else '' end,
 '<a href="mailto:ed@example.com">Mail the editor</a>',
 '<a href="other/page.html">Relative link</a>',
 '<A NAME="top">No href anchor</A>',
 '<a href="/trap">quoted href="https://fake.example.com/" in body</a>',
 '<!-- <a href="https://ghost.example.com/">ghost</a> -->',
 '</body></html>')"""


def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (operators/html.py html_links): synthesized web
    pages → one row per anchor element with href, normalized anchor text,
    nofollow flag, and the resolved absolute target (absolute /
    protocol-relative / root-relative forms; everything else NULL).
    NULL dst_url projected to '' for driver-hashable output (the
    inverted_index lesson)."""
    from ocr_spark.operators.html import html_links

    docs = _docs_with_url(spark, sf_dir).withColumn(
        "html", F.expr(_LINKS_SYNTH)
    )
    out = html_links(docs)
    return out.withColumn("dst_url", F.coalesce(F.col("dst_url"), F.lit("")))


def q_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain link graph from REAL extracted anchors
    (operators/web.py link_edges): nofollow and unresolvable hrefs
    excluded, same-domain edges dropped, (src, dst) pairs counted — the
    edge table domain PageRank consumes."""
    from ocr_spark.operators.web import link_edges

    docs = _docs_with_url(spark, sf_dir).withColumn(
        "html", F.expr(_LINKS_SYNTH)
    )
    return link_edges(docs)


def q_anchor_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming anchor-text index (operators/web.py anchor_terms): per
    destination registered domain, the normalized terms citing sites use
    in their anchors, with mention counts and exact citing-domain
    diversity — nofollow/same-domain/unresolvable anchors excluded."""
    from ocr_spark.operators.web import anchor_terms

    docs = _docs_with_url(spark, sf_dir).withColumn(
        "html", F.expr(_LINKS_SYNTH)
    )
    return anchor_terms(docs)


def q_frontier_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polite crawl-frontier schedule (operators/web.py frontier_plan):
    normalized-URL representatives → deterministic (host, slot) fetch
    rounds, ≤2 URLs per host per slot, mega-host windows bounded by the
    8-way bucket split."""
    from ocr_spark.operators.web import frontier_plan

    return frontier_plan(_docs_with_url(spark, sf_dir), per_host=2, buckets=8)


# Page-metadata fixture (html_meta / canonical_dedup): like _LINKS_SYNTH,
# depends only on doc_id and is valid Spark SQL and DuckDB SQL verbatim.
# Branches: lang present dq / present CAPS-sq / absent; title with an
# entity and an inline tag (normalization must strip both); description
# dq / sq / reversed-attribute-order / absent; canonical absolute /
# root-relative / protocol-relative+reversed-attrs / commented-out ghost /
# absent; og:image on even docs.  doc_id % 50 keys make canonical groups
# collapse across docs (the consolidation canonical_dedup exists for).
_META_SYNTH = """'<html'
 || case when doc_id % 3 = 0 then ' lang="en-GB"'
         when doc_id % 3 = 1 then ' LANG=''pt''' else '' end
 || '><head><title> Doc ' || cast(doc_id as string)
 || ' &amp; Co <b>bold</b> </title>'
 || case when doc_id % 4 = 0
         then '<meta name="description" content="Summary &lt;'
              || cast(doc_id % 50 as string) || '&gt; of record">'
         when doc_id % 4 = 1
         then '<meta name=''description'' content=''Plain summary '
              || cast(doc_id % 50 as string) || '''>'
         when doc_id % 4 = 2
         then '<meta content="Reversed desc '
              || cast(doc_id % 50 as string) || '" name=''description''>'
         else '' end
 || case when doc_id % 5 = 0
         then '<link rel="canonical" href="https://canon.example.com/page-'
              || cast(doc_id % 50 as string) || '">'
         when doc_id % 5 = 1
         then '<link rel=''canonical'' href=''/canon/page-'
              || cast(doc_id % 50 as string) || '''>'
         when doc_id % 5 = 2
         then '<link href="//cdn.canon.net/p-'
              || cast(doc_id % 50 as string) || '" rel="canonical">'
         when doc_id % 5 = 3
         then '<!-- <link rel="canonical" href="https://ghost.example.com/"> -->'
         else '' end
 || case when doc_id % 2 = 0
         then '<meta property=''og:image'' content=''img/og-'
              || cast(doc_id as string) || '.png''>'
         else '' end
 || '</head><body><p>Body for doc ' || cast(doc_id as string)
 || '.</p></body></html>'"""


def q_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-metadata extraction (operators/html.py html_meta): title,
    meta description, declared lang, og:image, and the rel=canonical URL
    resolved absolute — zero-shuffle head-of-document projection."""
    from ocr_spark.operators.html import html_meta

    docs = _docs_with_url(spark, sf_dir).withColumn(
        "html", F.expr(_META_SYNTH)
    )
    return html_meta(docs)


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL consolidation (operators/web.py canonical_dedup):
    dedup keyed on the publisher-declared rel=canonical when present,
    else the page's own normalized URL — the refinement over url_dedup
    that collapses print/mobile/tracking variants."""
    from ocr_spark.operators.web import canonical_dedup

    docs = _docs_with_url(spark, sf_dir).withColumn(
        "html", F.expr(_META_SYNTH)
    )
    return canonical_dedup(docs)


def q_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-paragraph language segmentation (operators/quality.py
    lang_segments): blank-line paragraph split → per-paragraph lang_pred →
    contiguous same-language runs merged into segments, one shuffle (the
    final aggregate reuses the window's doc_id partitioning)."""
    from ocr_spark.operators.quality import lang_segments

    docs = _docs(spark, sf_dir).withColumn("ptxt", F.expr(_PARA_SYNTH))
    return lang_segments(docs, text_col="ptxt")


def q_gopher_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-n-gram half of Gopher's repetition battery
    (operators/quality.py gopher_ngram_repetition): top-{2,3,4}-gram
    character share and de-overlapped duplicated-{5..10}-gram coverage,
    all integer cross-multiplied — Rae et al. 2021 App. A1 rows 4-11."""
    from ocr_spark.operators.quality import gopher_ngram_repetition

    return gopher_ngram_repetition(_docs(spark, sf_dir))


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (operators/web.py domain_cap): each
    registered domain keeps at most its 3 highest-n_chars documents —
    exact two-stage distributed top-K (lossless bucket prune, then a
    bounded final window)."""
    from ocr_spark.operators.web import domain_cap

    return domain_cap(_docs_with_url(spark, sf_dir), cap=3)


def q_crawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl-planning chain (operators/web.py crawl_plan):
    sitemap seeds the corpus lacks → robots longest-prefix gate →
    deterministic polite (host, slot) frontier — hash-gated end-to-end
    by one recursive DuckDB twin built from the three stage twins."""
    from ocr_spark.operators.web import crawl_plan

    return crawl_plan(
        _sitemaps_df(spark, sf_dir),
        _robots_df(spark, sf_dir),
        _docs_with_url(spark, sf_dir),
    )


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate benchmark decontamination
    (operators/contamination.py fuzzy_decontaminate): odd docs are the
    training set, even docs the eval set — TRAIN×EVAL banded-MinHash
    candidates, exact-Jaccard verified, one verdict row per train doc
    with near-miss counts kept for audit."""
    from ocr_spark.operators.contamination import fuzzy_decontaminate

    docs = _docs(spark, sf_dir)
    return fuzzy_decontaminate(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
    )


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination (operators/contamination.py
    bloom_decontaminate — the Dolma "bff" shape): the src1 slice is the
    eval suite compressed to an m-bit filter of md5-derived positions;
    every other doc gets a verdict row.  Same n=4 rationale as
    q_decontaminate; deterministic md5 basis means the oracle reproduces
    the exact same false positives, so the gate stays hash-exact."""
    from ocr_spark.operators.contamination import bloom_decontaminate

    docs = _docs(spark, sf_dir)
    return bloom_decontaminate(
        docs.where(F.col("source") != "src1"),
        docs.where(F.col("source") == "src1"),
        n=4,
    )


def q_recrawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot change detection (operators/web.py recrawl_diff): two
    crawl snapshots of the URL space (page-group windows g<150 vs g>=50,
    content fingerprints keyed on the page group with every fifth group
    bumped in the new snapshot) → unchanged / changed / new / gone per
    normalized URL — the decision table an incremental recrawl derives
    its work-list from."""
    from ocr_spark.operators.web import recrawl_diff

    u = _docs_with_url(spark, sf_dir)
    g = F.col("doc_id") % 200
    fp_old = F.md5(F.concat(F.lit("c|"), g.cast("string")).cast("binary"))
    fp_new = F.md5(
        F.concat(
            F.lit("c|"),
            g.cast("string"),
            F.when(g % 5 == 0, "|v2").otherwise(""),
        ).cast("binary")
    )
    old = u.where(g < 150).select("url", fp_old.alias("fp"))
    new = u.where(g >= 50).select("url", fp_new.alias("fp"))
    return recrawl_diff(old, new)


def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup (operators/quality.py corpus_datasheet): per
    (source, lang) + ROLLUP subtotals, doc/token/char volumes and the
    corpus-wide exact-duplicate exposure with a 6-place dup_rate."""
    from ocr_spark.operators.quality import corpus_datasheet

    return corpus_datasheet(_docs(spark, sf_dir))


def _sitemaps_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host sitemap.xml assembled from per-doc entries (mirrored by
    the DuckDB twin's string_agg over the same normed CTE).  Entry
    branches: a known corpus URL (its exact normalized form, padded with
    the whitespace the <loc> trim must remove) with lastmod+priority; a
    NEW /fresh/ URL with an &amp; entity and changefreq; and a loc-less
    invalid entry that must be dropped."""
    from ocr_spark.functions.url import url_host, url_normalize

    u = _docs_with_url(spark, sf_dir).select(
        "doc_id",
        F.lower(url_host(F.col("url"))).alias("host"),
        url_normalize(F.col("url")).alias("norm_url"),
    )
    g = (F.col("doc_id") % 200).cast("string")
    entry = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<url><loc> "),
                F.col("norm_url"),
                F.lit(" </loc><lastmod>2026-07-1"),
                (F.col("doc_id") % 9).cast("string"),
                F.lit("</lastmod><priority>0.8</priority></url>"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("<url><loc>https://"),
                F.col("host"),
                F.lit("/fresh/p-"),
                g,
                F.lit("&amp;x</loc><changefreq>daily</changefreq></url>"),
            ),
        )
        .otherwise(F.lit("<url><priority>0.3</priority></url>"))
    )
    return (
        u.select("host", F.struct("doc_id", entry.alias("e")).alias("s"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda s: s["e"]
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
    )


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parser (operators/web.py sitemap_urls): per-host
    sitemap.xml → one row per <url> entry with entity-decoded loc,
    lastmod, changefreq, and integer priority_pct; loc-less entries
    dropped."""
    from ocr_spark.operators.web import sitemap_urls

    return sitemap_urls(_sitemaps_df(spark, sf_dir))


def q_sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-URL crawl seeds (operators/web.py sitemap_seeds): sitemap
    entries whose normalized URL the corpus does not already have —
    known pages (even restated with fetch noise) are recognized and
    excluded via the normalized-URL anti-join."""
    from ocr_spark.operators.web import sitemap_seeds

    return sitemap_seeds(
        _sitemaps_df(spark, sf_dir), _docs_with_url(spark, sf_dir)
    )


# robots.txt fixture: deterministic per-HOST robots text (valid Spark SQL
# and DuckDB SQL verbatim over a `host` column, like _LINKS_SYNTH).
# Branches exercised: a non-star group that must be ignored (badbot), the
# star group with a 3-level longest-match ladder (/src1 → /src1/page-1 →
# /src1/page-11), an equal-length Allow/Disallow tie (/src2, Allow must
# win), a CAPS directive with a trailing comment (/src5), an empty
# Disallow (no-op), a host-conditional extra rule (/src7/), a
# host-conditional multi-UA group (googlebot + * share one group → /src3
# applies), a trailing non-star group after rules (/src4 ignored), and
# length%5 hosts with NO robots at all (everything allowed).
_ROBOTS_SYNTH = """case when length(host) % 5 = 0 then ''
else '# robots fixture' || chr(10)
  || 'User-agent: badbot' || chr(10) || 'Disallow: /' || chr(10) || chr(10)
  || 'User-agent: *' || chr(10)
  || 'Disallow: /src1' || chr(10)
  || 'Allow: /src1/page-1' || chr(10)
  || 'Disallow: /src1/page-11' || chr(10)
  || 'Allow: /src2' || chr(10)
  || 'Disallow: /src2' || chr(10)
  || 'DISALLOW: /src5 # seasonal block' || chr(10)
  || 'Disallow: /fresh/p-1' || chr(10)
  || 'Disallow:' || chr(10)
  || case when length(host) % 2 = 0
          then 'Disallow: /src7/' || chr(10) else '' end
  || chr(10)
  || case when ascii(host) % 2 = 0
          then 'User-agent: googlebot' || chr(10) || 'User-agent: *'
               || chr(10) || 'Disallow: /src3' || chr(10) || chr(10)
          else '' end
  || 'User-agent: otherbot' || chr(10) || 'Disallow: /src4' || chr(10)
  || chr(10)
  || 'Sitemap: https://' || host || '/sitemap.xml' || chr(10)
  || case when ascii(host) % 3 = 0
          then 'sitemap: https://cdn.' || host || '/sm/news.xml.gz # extra'
               || chr(10)
          else '' end
  || 'Sitemap: /relative-ignored.xml'
end"""


def _robots_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthesized robots.txt per distinct host of the URL fixture."""
    from ocr_spark.functions.url import url_host

    hosts = (
        _docs_with_url(spark, sf_dir)
        .select(F.lower(url_host(F.col("url"))).alias("host"))
        .distinct()
    )
    return hosts.withColumn("robots_txt", F.expr(_ROBOTS_SYNTH))


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots Exclusion Protocol parser (operators/web.py robots_rules):
    per-host robots.txt → the generic-crawler (`User-agent: *`) rule
    table — RFC 9309 grouping (consecutive UA lines share a group, a UA
    line after rules starts a new one), comment strip, case-insensitive
    directives, empty-value rules dropped."""
    from ocr_spark.operators.web import robots_rules

    return robots_rules(_robots_df(spark, sf_dir))


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots decision per candidate URL (operators/web.py robots_filter):
    longest matching prefix wins, Allow wins length ties, no match or no
    robots → allowed — the fetch gate between URL dedup and
    frontier_plan."""
    from ocr_spark.operators.web import robots_filter, robots_rules

    urls = _docs_with_url(spark, sf_dir)
    return robots_filter(urls, robots_rules(_robots_df(spark, sf_dir)))


def q_c4_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 blocklist page-kill (operators/quality.py
    c4_badword_filter): pages whose normalized tokens hit the frozen
    blocklist are dropped wholesale — the companion rule to c4_clean's
    line filters."""
    from ocr_spark.operators.quality import c4_badword_filter

    return c4_badword_filter(_docs(spark, sf_dir))


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction (operators/html.py): the north rule's
    'HTML boilerplate strip / DOM heuristics' leg — synthesized web pages
    → interleaved (kind, text, media_ref, offset) spans, chrome and
    link-dense blocks dropped.  Zero-shuffle: classification happens in
    the blocks array before posexplode, so offsets are dense without a
    row_number window."""
    from ocr_spark.operators.html import html_spans

    docs = _docs(spark, sf_dir).withColumn("html", F.expr(_HTML_SYNTH))
    return html_spans(docs)


# Table fixture (html_tables): depends only on doc_id and is valid Spark
# SQL AND DuckDB SQL verbatim.  Branches: th header row inside <thead>
# (section wrappers must not perturb row numbering), inline tag + entity
# in cells, attribute'd cells, `</td >` spaced close, colspan (ignored —
# col_idx counts elements), <br> inside a cell (→ space), a conditional
# CAPS table with an empty first cell (case-insensitivity + empty-string
# cell + per-doc table-count variation), a comment-wrapped ghost table,
# and prose outside tables (ignored).
_TABLES_SYNTH = """concat(
 '<html><body><h1>Report ', cast(doc_id % 50 as string), '</h1>',
 '<p>Not a table: inline numbers ', cast(doc_id % 97 as string), '.</p>',
 '<table class="data"><thead><tr><th>Item</th>',
 '<th scope="col">Qty &amp; Cost</th></tr></thead><tbody>',
 '<tr><td class="nm">Widget <b>', cast(doc_id % 10 as string),
 '</b></td><td>', cast(doc_id % 97 as string), '.50</td ></tr>',
 '<tr><td colspan="2">Total &lt;net&gt;  for<br>order ',
 cast(doc_id % 200 as string), '</td></tr></tbody></table>',
 case when doc_id % 3 = 0
      then concat('<TABLE><TR><TD></TD><TD>caps ',
                  cast(doc_id % 7 as string), '</TD></TR></TABLE>')
      else '' end,
 '<!-- <table><tr><td>ghost</td></tr></table> -->',
 '<p>Trailing prose.</p></body></html>')"""


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured table extraction (operators/html.py html_tables): the
    data-table leg of main-content extraction — synthesized web pages →
    one row per cell (table_idx, row_idx, col_idx, is_header, cell),
    section wrappers traversed, comments stripped first.  Zero-shuffle:
    three posexplode stages in one narrow scan partition."""
    from ocr_spark.operators.html import html_tables

    docs = _docs(spark, sf_dir).withColumn("html", F.expr(_TABLES_SYNTH))
    return html_tables(docs.select("doc_id", "html"))


# Outline fixture (html_outline): depends only on doc_id, valid Spark SQL
# AND DuckDB SQL verbatim.  Branches: chrome heading (stripped with nav),
# orphan deep heading before any h1 (path = itself), entity + inline tag
# in titles, CAPS heading tag, h3 under h2 under h1 (full chain), sibling
# h2 resetting the h3, conditional second h2 (per-doc outline variation),
# new h1 making the old h2 STALE (the h3 right after must skip it), a
# comment-wrapped ghost heading, and an empty-body heading.
_OUTLINE_SYNTH = """concat(
 '<html><head><title>T</title></head><body>',
 '<nav><h2>Site nav heading</h2></nav>',
 '<h4>Orphan ', cast(doc_id % 11 as string), '</h4>',
 '<h1>Guide &amp; Manual ', cast(doc_id % 50 as string), '</h1><p>i</p>',
 '<h2 class="s">Setup <b>fast</b></h2><p>x</p>',
 '<h3>On Linux ', cast(doc_id % 3 as string), '</h3><p>y</p>',
 case when doc_id % 2 = 0
      then concat('<H2>Usage ', cast(doc_id % 7 as string), '</H2>')
      else '' end,
 '<h3>Deep ', cast(doc_id % 5 as string), '</h3>',
 '<h1>Appendix</h1>',
 '<h3>Stale-parent case</h3>',
 '<!-- <h1>ghost</h1> -->',
 '<h2></h2>',
 '</body></html>')"""


def q_html_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-hierarchy extraction (operators/html.py html_outline):
    synthesized pages → one row per heading with its section path —
    current-ancestor chain only (a shallower heading closes every deeper
    section; stale siblings never leak), chrome headings stripped.  One
    doc_id-window shuffle."""
    from ocr_spark.operators.html import html_outline

    docs = _docs(spark, sf_dir).withColumn("html", F.expr(_OUTLINE_SYNTH))
    return html_outline(docs.select("doc_id", "html"))


# ALTO fixture (alto_words): depends only on doc_id, valid Spark SQL AND
# DuckDB SQL verbatim.  Branches: entities in CONTENT (&amp;/&lt;/&gt;),
# variable WIDTH, two lines in the first block, a conditional second
# block using the open/close (non-self-closing) String form, and the
# namespace/Page/PrintSpace wrapper noise the ladder must see through.
_ALTO_SYNTH = """concat(
 '<?xml version="1.0" encoding="UTF-8"?>',
 '<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#"><Layout>',
 '<Page ID="page_', cast(doc_id % 5 as string),
 '" WIDTH="2480" HEIGHT="3508"><PrintSpace WIDTH="2480" HEIGHT="3508">',
 '<TextBlock><TextLine>',
 '<String CONTENT="Word', cast(doc_id % 10 as string),
 '" HPOS="10" VPOS="20" WIDTH="100" HEIGHT="32"/>',
 '<String CONTENT="Fish &amp; &lt;Chips&gt;" HPOS="120" VPOS="20"',
 ' WIDTH="', cast(30 + doc_id % 40 as string), '" HEIGHT="32"/>',
 '</TextLine><TextLine>',
 '<String CONTENT="line2w" HPOS="10" VPOS="60" WIDTH="50" HEIGHT="30"/>',
 '</TextLine></TextBlock>',
 case when doc_id % 2 = 0
      then concat('<TextBlock><TextLine><String CONTENT="blk2-',
                  cast(doc_id % 7 as string),
                  '" HPOS="15" VPOS="400" WIDTH="60" HEIGHT="28">',
                  '</String></TextLine></TextBlock>')
      else '' end,
 '</PrintSpace></Page></Layout></alto>')"""


# HTTP response fixture (http_meta): depends only on doc_id, valid Spark
# SQL AND DuckDB SQL verbatim.  Branches: 200+text/html+charset (kept),
# quoted charset + CAPS header name, 404 html (dropped), 200 pdf
# (dropped), 301 redirect with no content-type, a no-status-line garbage
# payload (NULL status), and a head-only payload (no CRLF-CRLF → empty
# body).  chr(13)||chr(10) builds CRLF identically on both engines
# (string-literal escape rules differ, so never write '\\r\\n' directly).
_HTTP_SYNTH = """
 case when doc_id % 7 = 0 then concat(
   'HTTP/1.1 200 OK', chr(13), chr(10),
   'Content-Type: text/html; charset=utf-8', chr(13), chr(10),
   'Server: x', chr(13), chr(10), chr(13), chr(10),
   '<html><body>page ', cast(doc_id % 100 as string), '</body></html>')
 when doc_id % 7 = 1 then concat(
   'HTTP/1.0 200 OK', chr(13), chr(10),
   'CONTENT-TYPE: Text/HTML; charset="ISO-8859-1"', chr(13), chr(10),
   chr(13), chr(10), '<p>latin page</p>')
 when doc_id % 7 = 2 then concat(
   'HTTP/1.1 404 Not Found', chr(13), chr(10),
   'Content-Type: text/html', chr(13), chr(10), chr(13), chr(10),
   '<p>nope</p>')
 when doc_id % 7 = 3 then concat(
   'HTTP/1.1 200 OK', chr(13), chr(10),
   'Content-Type: application/pdf', chr(13), chr(10), chr(13), chr(10),
   '%PDF-1.4 fake')
 when doc_id % 7 = 4 then concat(
   'HTTP/1.1 301 Moved Permanently', chr(13), chr(10),
   'Location: https://example.org/new-', cast(doc_id % 9 as string),
   chr(13), chr(10), chr(13), chr(10), '')
 when doc_id % 7 = 5 then concat(
   'not an http response at all ', cast(doc_id % 13 as string))
 else concat(
   'HTTP/1.1 200 OK', chr(13), chr(10),
   'Content-Type: text/html')
 end"""


def q_http_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP response-head metadata (sources/warc.py http_response_meta):
    synthesized fetch payloads → status/mime/charset/body split and the
    keep-200-text/html gate — the filter between the WARC record walk
    and extraction.  Zero-shuffle staged projection.  NULL status
    projected to -1 for driver-hashable output."""
    from ocr_spark.sources.warc import http_response_meta

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_HTTP_SYNTH} as payload"
    )
    out = http_response_meta(docs)
    return out.select(
        "doc_id",
        F.coalesce(F.col("status"), F.lit(-1)).alias("status"),
        "mime",
        "charset",
        F.length("body").alias("body_len"),
        "keep",
    )


def q_postings_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings storage accounting (operators/index.py postings_codec):
    per-word Lucene-style block-delta + vbyte coded size vs the naive
    8-byte layout — block restart grid = doc_id div 128, so no hot
    (word, bucket) group exists by construction.  Two bounded shuffles,
    no windows."""
    from ocr_spark.operators.index import postings_codec

    return postings_codec(_docs(spark, sf_dir), block=128)


def q_alto_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTO XML ingest (sources/alto.py alto_words): synthesized ALTO v3
    pages → one row per word with block/line/word position and the
    (x1,y1,x2,y2) box inverted from HPOS/VPOS/WIDTH/HEIGHT — the ingest
    twin of the ALTO exporter.  Zero-shuffle three-level parse ladder."""
    from ocr_spark.sources.alto import alto_words

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "cast(doc_id % 5 as int) as page_no",
        f"{_ALTO_SYNTH} as alto_xml",
    )
    return alto_words(docs)


# hOCR-export fixture IR (hocr_export): Spark SQL only (the oracle twin
# rebuilds the final XML string directly).  Branches: entity-bearing text,
# doc-varying widths/confidences, two conditional fonts, a single-word
# line (slope degenerates to 0), a conditional second paragraph with a
# slope-0.5 collinear baseline (dyadic → the decimal(20,6) baseline is
# exact), and flat-line intercepts that go negative.
_HOCR_IR_SYNTH = """
case when doc_id % 2 = 0 then array({p1}, {p2}) else array({p1}) end
""".format(
    p1="""array(
      array(
        named_struct('text', 'Fish & <Chips>',
                     'box', array(10.0d, 20.0d, 110.0d, 52.0d),
                     'b', cast(50 + doc_id % 3 as double),
                     'confidence', cast(80 + doc_id % 20 as int),
                     'font', case when doc_id % 2 = 0
                                  then 'Times_New-Roman'
                                  else cast(null as string) end),
        named_struct('text', concat('w', cast(doc_id % 10 as string)),
                     'box', array(120.0d, 20.0d,
                                  cast(150 + doc_id % 40 as double), 52.0d),
                     'b', cast(50 + doc_id % 3 as double),
                     'confidence', cast(75 as int),
                     'font', cast(null as string))),
      array(
        named_struct('text', 'line2w',
                     'box', array(10.0d, 60.0d, 60.0d, 90.0d),
                     'b', cast(85 + doc_id % 7 as double),
                     'confidence', cast(doc_id % 100 as int),
                     'font', case when doc_id % 3 = 0 then 'f-g_h'
                                  else cast(null as string) end)))""",
    p2="""array(
      array(
        named_struct('text', 'sl0', 'box', array(0.0d, 400.0d, 10.0d, 430.0d),
                     'b', 440.5d, 'confidence', cast(93 as int),
                     'font', cast(null as string)),
        named_struct('text', 'sl1', 'box', array(20.0d, 400.0d, 40.0d, 430.0d),
                     'b', 453.0d, 'confidence', cast(94 as int),
                     'font', cast(null as string)),
        named_struct('text', 'sl2', 'box', array(60.0d, 400.0d, 80.0d, 430.0d),
                     'b', 473.0d, 'confidence', cast(95 as int),
                     'font', cast(null as string))))""",
)


def q_size_humanize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 size humanize (functions/units.py size_human — the reference's
    size_to_units, file.py:283-296): four synthesized byte counts per
    document covering every unit branch, including the exact-tie sizes
    (≡128 mod 256 in KB range ⇒ .005 exactly ⇒ round-half-even, the
    Python :.2f banker semantics emulated in pure bigint).  Twin = the
    same shared builder in the duckdb dialect.  Zero-shuffle."""
    from ocr_spark.functions.units import size_human_sql

    base = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "octet_length(text) as b_small",
        "128 + 256 * (doc_id % 2000) as b_tie",
        "octet_length(text) * 16384 as b_mb",
        "1073741824 + doc_id * 1048576 as b_gb",
    )
    return base.selectExpr(
        "doc_id",
        "b_tie",
        f"{size_human_sql('b_small')} as h_small",
        f"{size_human_sql('b_tie')} as h_tie",
        f"{size_human_sql('b_mb')} as h_mb",
        f"{size_human_sql('b_gb')} as h_gb",
    )


def q_ocr_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 OCR time estimate (functions/units.py ocr_eta_sql — the
    reference's estimate_ocr_time, ocr_tesserocr.py:287-291): per-doc
    page counts synthesized across both branches (<20 pages → '<1min';
    else ceil(0.0176·n+0.2632) minutes — the rational never lands on a
    ceil boundary, so both engines agree exactly).  Zero-shuffle."""
    from ocr_spark.functions.units import ocr_eta_sql

    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "cast(doc_id % 997 as bigint) as n_pages",
        f"{ocr_eta_sql('cast(doc_id % 997 as bigint)')} as eta",
    )


def q_path_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P10 path-safety predicates (functions/paths.py — the
    reference's private/temp rejection, _-prefixed pruning, reserved
    folder-name rule, and $-stem temp-page filter): synthesized
    manifest paths + folder names exercising every branch → the four
    predicates and the composed keep gate.  Twin = the same shared
    builders in the duckdb dialect.  Zero-shuffle scan-stage codegen."""
    from ocr_spark.functions import paths as PTH

    base = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        """case cast(doc_id % 8 as int)
 when 0 then concat('docs/folder', cast(doc_id % 10 as string),
             '/page_', cast(doc_id % 10 as string), '.png')
 when 1 then concat('_files/_private_spaces/u',
             cast(doc_id % 10 as string), '/doc.pdf')
 when 2 then concat('_files/_tmp/chunk', cast(doc_id % 10 as string))
 when 3 then 'docs/_reserved/page.png'
 when 4 then concat('docs/f/page_', cast(doc_id % 10 as string), '$.png')
 when 5 then 'docs/ok/file$name.png'
 when 6 then 'docs/a.b.c/page.final.jpg'
 else concat('x_', cast(doc_id % 10 as string), '/page.png')
 end as path""",
        """case cast(doc_id % 4 as int)
 when 0 then 'good' when 1 then '_bad' when 2 then 'a/b'
 else concat('a', chr(92), 'b') end as name""",
    )
    return base.selectExpr(
        "doc_id",
        "path",
        "name",
        f"{PTH.private_or_temp_sql('path')} as is_private_or_temp",
        f"{PTH.reserved_component_sql('path')} as has_reserved_component",
        f"{PTH.temp_page_sql('path')} as is_temp_page",
        f"{PTH.path_keep_sql('path')} as keep",
        f"{PTH.reserved_name_sql('name')} as name_reserved",
    )


def q_chunk_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 chunked-upload sink (sources/upload.py chunk_assembly — the
    reference's join_chunks protocol, app.py:676-760): synthesized chunk
    rows per document (1-4 chunks; every 5th file missing chunk 2 and
    every 7th re-sending chunk 1) → in-order assembly md5, banker
    centi-percent progress, completion gate.  Twin = the same grouping
    + ordered string_agg md5 in DuckDB."""
    from ocr_spark.sources.upload import chunk_assembly

    rows = _docs(spark, sf_dir).selectExpr(
        "doc_id as file_id",
        "cast(1 + doc_id % 4 as int) as total_count",
        "explode(sequence(1, cast(1 + doc_id % 4 as int))) as counter",
    ).where(
        # every 5th multi-chunk file is missing chunk 2 (incomplete)
        "not (file_id % 5 = 0 and total_count > 1 and counter = 2)"
    )
    dup = rows.where("file_id % 7 = 0 and counter = 1")
    chunks = rows.unionByName(dup).selectExpr(
        "file_id",
        "cast(counter as int) as counter",
        "total_count",
        "cast(concat('data-', cast(file_id as string), '-', "
        "cast(counter as string), ';') as binary) as data",
    )
    return chunk_assembly(chunks)


def q_export_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 export_zip (sources/exporters.py zip_bundles): synthesized
    per-doc artifacts (two page payloads + the doc text + a manifest
    stub) → one REAL deterministic ZIP per document; projected to
    (doc_id, n_entries, n_bytes, bundle_md5).  Rows-only gate — no SQL
    engine authors ZIP archives (CRC32 unavailable in DuckDB); byte
    determinism + unzip round-trip are pytest-gated
    (tests/test_zip_bundle.py)."""
    from ocr_spark.sources.exporters import zip_bundles

    arts = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        """explode(array(
 named_struct('entry_name', 'pages/p1.png',
              'payload', cast(concat('P1-', cast(doc_id as string)) as binary)),
 named_struct('entry_name', 'pages/p2.png',
              'payload', cast(concat('P2-', cast(doc_id as string)) as binary)),
 named_struct('entry_name', '_export/_txt.txt',
              'payload', cast(text as binary)),
 named_struct('entry_name', '_mets.xml',
              'payload', cast(concat('<mets doc="', cast(doc_id as string),
                                     '"/>') as binary))
 )) as e""",
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("e.entry_name").alias("entry_name"),
        F.col("e.payload").alias("payload"),
    )
    return zip_bundles(arts).select(
        "doc_id", "n_entries", "n_bytes", F.md5("zip").alias("bundle_md5")
    )


def q_ner_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 NER sink analog (operators/ner.py ner_entities — the
    reference's _entities.json producer, file.py:57-73, with the
    external anonymizer behind the documented seam): typed pattern
    entities over doc text seeded with synthetic PII/dates/names.
    Exact twin: the same Java↔RE2-agreeing patterns per type in
    DuckDB.  One scan + one aggregation."""
    from ocr_spark.operators.ner import ner_entities

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        """concat(text,
 case when doc_id % 3 = 0
      then concat(' Contact Ana Silva at user', cast(doc_id % 50 as string),
                  '@example.org on 2024-0', cast(1 + doc_id % 9 as string),
                  '-15.')
      else '' end,
 case when doc_id % 4 = 0
      then concat(' Host 10.0.', cast(doc_id % 256 as string),
                  '.7 ref 1234567', cast(doc_id % 10 as string), '.')
      else '' end) as text""",
    )
    return ner_entities(docs)


def q_raster_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1-G5 raster segmentation (operators/raster.py segment_bitmaps):
    deterministic per-doc synthetic bitmaps (glyph-blob text rows, a
    conditional dense image block, a conditional ruling line) → typed
    region rectangles.  Rows-only gate — no SQL engine runs
    Otsu/CCL/box-merge; kernel batteries incl. a textbook-Otsu
    cross-check live in tests/test_raster.py."""
    from collections.abc import Iterator as _It

    import numpy as _np
    import pyarrow as _pa

    from ocr_spark.operators.raster import segment_bitmaps

    W, H = 120, 90

    def gen(it: _It[_pa.RecordBatch]) -> _It[_pa.RecordBatch]:
        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            bms = []
            for d in ids:
                g = _np.full((H, W), 255, dtype=_np.uint8)
                for y0 in (8, 14):
                    for x0 in range(6, 100, 8 + int(d) % 3):
                        g[y0:y0 + 2, x0:x0 + 3] = 0
                if int(d) % 2 == 0:
                    g[40:70, 20 + int(d) % 20:60 + int(d) % 20] = 30
                if int(d) % 3 == 0:
                    g[30, 4:116] = 0
                bms.append(g.tobytes())
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array([str(i) for i in ids], type=_pa.string()),
                    _pa.array([0] * len(ids), type=_pa.int32()),
                    _pa.array([W] * len(ids), type=_pa.int32()),
                    _pa.array([H] * len(ids), type=_pa.int32()),
                    _pa.array(bms, type=_pa.binary()),
                ],
                names=["doc_id", "page_no", "width", "height", "bitmap"],
            )

    pages = _docs(spark, sf_dir).select("doc_id").mapInArrow(
        gen,
        "doc_id string, page_no int, width int, height int, bitmap binary",
    )
    return segment_bitmaps(pages)


def q_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG codec (sources/png.py), EXACT-oracled cross-engine: per
    sampled doc an md5-chain pixel buffer — reconstructible in pure SQL —
    is encoded (filter type (doc_id // 20) % 5 — the stride-coprime
    derivation, so every filter path runs on the %20 sample),
    decoded back, and fingerprinted as md5(hex(pixels)).  The DuckDB twin
    builds the identical buffer (string_agg of md5 blocks) and md5s the
    same hex rendering: a hash match proves decode(encode(x)) == x for
    exactly the expected bytes, engine-independently — the codec seam's
    closure (round-3 verdict item 1)."""
    import hashlib as _hl

    from ocr_spark.sources.png import decode_png, encode_png

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .where(F.col("doc_id") % 20 == 0)
    )

    def fn(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 17, 16 + d % 13
                n = w * h
                buf = b"".join(
                    _hl.md5(f"{d}:{i}".encode()).digest()
                    for i in range((n + 15) // 16)
                )[:n]
                img = _np.frombuffer(buf, _np.uint8).reshape(h, w)
                dec = decode_png(encode_png(img, filters=(d // 20) % 5))
                rows.append(
                    (
                        d, w, h, (d // 20) % 5,
                        bool((dec == img).all()),
                        _hl.md5(dec.tobytes().hex().encode()).hexdigest(),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "png_filter",
                    "roundtrip_ok", "pixels_md5",
                ],
            )

    return docs.mapInPandas(
        fn,
        "doc_id bigint, width int, height int, png_filter int, "
        "roundtrip_ok boolean, pixels_md5 string",
    ).orderBy("doc_id")


def q_raster_from_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed G-chain on real bytes: the q_raster_segments synthetic
    page rasters, but round-tripped through REAL PNG encode → real
    decode (operators/raster.decode_png_pages) before segmentation —
    byte-level codec, grayscale conversion, and G1-G5 all live in one
    narrow fused stage.  Rows-only gate (no SQL Otsu/CCL); the
    PNG-path == direct-path equality is pytest-locked
    (tests/test_png.py e2e) and the codec itself is exact-oracled via
    ``png_roundtrip``."""
    from collections.abc import Iterator as _It

    import numpy as _np
    import pyarrow as _pa

    from ocr_spark.operators.raster import decode_png_pages, segment_bitmaps
    from ocr_spark.sources.png import encode_png

    W, H = 120, 90

    def gen(it: _It[_pa.RecordBatch]) -> _It[_pa.RecordBatch]:
        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            pngs = []
            for d in ids:
                g = _np.full((H, W), 255, dtype=_np.uint8)
                for y0 in (8, 14):
                    for x0 in range(6, 100, 8 + int(d) % 3):
                        g[y0:y0 + 2, x0:x0 + 3] = 0
                if int(d) % 2 == 0:
                    g[40:70, 20 + int(d) % 20:60 + int(d) % 20] = 30
                if int(d) % 3 == 0:
                    g[30, 4:116] = 0
                pngs.append(encode_png(g, filters=int(d) % 3))
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array([str(i) for i in ids], type=_pa.string()),
                    _pa.array([0] * len(ids), type=_pa.int32()),
                    _pa.array(pngs, type=_pa.binary()),
                ],
                names=["doc_id", "page_no", "content"],
            )

    pages = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .mapInArrow(gen, "doc_id string, page_no int, content binary")
    )
    return segment_bitmaps(decode_png_pages(pages))


def q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline JPEG codec (sources/jpeg.py), EXACT-oracled
    cross-engine on the DC-exact domain: per sampled doc a
    blockwise-constant image is built from an md5 chain (block values
    128 + 16·k, so every DC coefficient is a multiple of 8·Q[0,0] and
    quantize→dequantize→IDCT is bit-exact), encoded → decoded, and the
    DECODED pixels fingerprinted as md5(hex(pixels)).  The DuckDB twin
    rebuilds the identical buffer arithmetically (hex bytes from the
    same md5 chain, expanded 8× per block) and md5s the same rendering:
    a hash match proves decode(encode(x)) == x for exactly the expected
    bytes, engine-independently — the JPEG sibling of png_roundtrip.
    The lossy domain (where no SQL twin can exist) is pytest-gated by
    pinned PSNR bounds in tests/test_jpeg.py."""
    import hashlib as _hl

    from ocr_spark.sources.jpeg import decode_jpeg, encode_jpeg

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .where(F.col("doc_id") % 20 == 10)
    )

    def fn(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                wb, hb = 3 + d % 4, 2 + d % 3
                n = wb * hb
                buf = b"".join(
                    _hl.md5(f"{d}:{i}".encode()).digest()
                    for i in range((n + 15) // 16)
                )[:n]
                vals = 128 + 16 * (
                    _np.frombuffer(buf, _np.uint8).astype(_np.int64) % 9 - 4
                )
                img = _np.repeat(
                    _np.repeat(
                        vals.reshape(hb, wb).astype(_np.uint8), 8, axis=0
                    ),
                    8,
                    axis=1,
                )
                dec = decode_jpeg(encode_jpeg(img))
                rows.append(
                    (
                        d, wb * 8, hb * 8,
                        bool((dec == img).all()),
                        _hl.md5(dec.tobytes().hex().encode()).hexdigest(),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "roundtrip_ok", "pixels_md5",
                ],
            )

    return docs.mapInPandas(
        fn,
        "doc_id bigint, width int, height int, "
        "roundtrip_ok boolean, pixels_md5 string",
    ).orderBy("doc_id")


def q_media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only image geometry (sources/imagemeta.py), EXACT-oracled:
    per sampled doc the kernel BUILDS real format headers — JPEG
    SOI+SOF0, GIF89a screen descriptor, BMP BITMAPINFOHEADER with
    top-down (negative) height, WebP VP8X and VP8L — with dimensions
    derived arithmetically from doc_id, then parses them back through
    ``sniff_dimensions``.  The DuckDB twin recomputes the same expected
    (format, width, height) arithmetic: a hash match proves the byte-
    level header walk recovers exactly the geometry that was encoded
    (r4 verdict item 6 — the header path enters the driver gate)."""
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .where(F.col("doc_id") % 20 == 5)
    )

    def fn(it):
        import struct as _st

        import pandas as _pd

        from ocr_spark.sources.imagemeta import sniff_dimensions

        def build(fmt: str, w: int, h: int) -> bytes:
            if fmt == "jpeg":
                return (
                    b"\xff\xd8\xff\xc0"
                    + _st.pack(">H", 11)
                    + _st.pack(">BHHB", 8, h, w, 1)
                    + b"\x01\x11\x00\xff\xd9"
                )
            if fmt == "gif":
                return b"GIF89a" + _st.pack("<HH", w, h) + b"\x00" * 4
            if fmt == "bmp":
                return (
                    b"BM" + b"\x00" * 12 + _st.pack("<I", 40)
                    + _st.pack("<ii", w, -h) + b"\x00" * 8
                )
            if fmt == "webp_vp8x":
                return (
                    b"RIFF" + _st.pack("<I", 22) + b"WEBPVP8X"
                    + _st.pack("<I", 10) + b"\x00" * 4
                    + (w - 1).to_bytes(3, "little")
                    + (h - 1).to_bytes(3, "little")
                )
            return (
                b"RIFF" + _st.pack("<I", 17) + b"WEBPVP8L"
                + _st.pack("<I", 5) + b"\x2f"
                + _st.pack("<I", (w - 1) | ((h - 1) << 14))
                + b"\x00" * 5
            )

        fmts = ["jpeg", "gif", "bmp", "webp_vp8x", "webp_vp8l"]
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                for fi, fmt in enumerate(fmts):
                    w = 16 + (d + 13 * fi) % 200
                    h = 12 + (d + 17 * fi) % 150
                    parsed = sniff_dimensions(build(fmt, w, h))
                    rows.append(
                        (d, fmt)
                        + (parsed if parsed else ("unparsed", -1, -1))
                    )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "fmt", "parsed_fmt", "width", "height"],
            )

    return docs.mapInPandas(
        fn,
        "doc_id bigint, fmt string, parsed_fmt string, "
        "width int, height int",
    ).orderBy("doc_id", "fmt")


def q_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG-in-AVI frame sampling (sources/avi.py + multimodal.
    sample_frames), EXACT-oracled on the DC-exact domain: per sampled
    doc a deterministic AVI is built whose frames are baseline JPEGs of
    blockwise-constant md5-chain images, the REAL operator walks the
    RIFF container (every 3rd frame, timestamps from the container's
    avih rate — 20 fps → 50 ms/frame), each sampled frame decodes
    through sources/jpeg.py, and the DECODED pixels are fingerprinted.
    The DuckDB twin rebuilds the expected pixel buffers arithmetically:
    a hash match proves container walk + frame select + timestamps +
    JPEG decode are all exact, cross-engine (r4 verdict item 7)."""
    import hashlib as _hl

    from ocr_spark.operators import multimodal as MM
    from ocr_spark.sources.avi import write_avi_mjpeg
    from ocr_spark.sources.jpeg import decode_jpeg, encode_jpeg

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .where(F.col("doc_id") % 20 == 15)
    )

    def _frame_img(d: int, f: int):
        import numpy as _np

        buf = _hl.md5(f"{d}/{f}".encode()).digest()[:6]
        vals = 128 + 16 * (
            _np.frombuffer(buf, _np.uint8).astype(_np.int64) % 9 - 4
        )
        return _np.repeat(
            _np.repeat(vals.reshape(2, 3).astype(_np.uint8), 8, axis=0),
            8,
            axis=1,
        )

    def gen(it):
        import pandas as _pd

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                nf = 6 + d % 5
                avi = write_avi_mjpeg(
                    [encode_jpeg(_frame_img(d, f)) for f in range(nf)],
                    fps=20.0, width=24, height=16,
                )
                rows.append((str(d), "v.avi", avi, "video/avi"))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "content", "mime"]
            )

    def fingerprint(it):
        import pandas as _pd

        for pdf in it:
            rows = []
            for doc, f, ts, content in zip(
                pdf["doc_id"], pdf["frame_no"], pdf["ts_ms"], pdf["content"]
            ):
                d, f = int(doc), int(f)
                dec = decode_jpeg(bytes(content))
                rows.append(
                    (
                        d, f, int(ts), dec.shape[1], dec.shape[0],
                        bool((dec == _frame_img(d, f)).all()),
                        _hl.md5(dec.tobytes().hex().encode()).hexdigest(),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_no", "ts_ms", "width", "height",
                    "roundtrip_ok", "pixels_md5",
                ],
            )

    videos = docs.mapInPandas(gen, MM.MEDIA_SCHEMA)
    frames = MM.sample_frames(videos, every_n=3)
    return frames.mapInPandas(
        fingerprint,
        "doc_id bigint, frame_no int, ts_ms bigint, width int, "
        "height int, roundtrip_ok boolean, pixels_md5 string",
    ).orderBy("doc_id", "frame_no")


def q_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF codec (sources/gif.py — LZW, palette, the width-bump
    rule), EXACT-oracled cross-engine the png_roundtrip way: per sampled
    doc an md5-chain pixel buffer is GIF-encoded (real LZW compression),
    decoded back, and the DECODED pixels fingerprinted as
    md5(hex(pixels)).  GIF is lossless over a grayscale palette, so the
    DuckDB twin hashes the same arithmetic rebuild — a match proves
    decode(encode(x)) == x through the whole LZW dictionary machinery,
    engine-independently."""
    import hashlib as _hl

    from ocr_spark.sources.gif import decode_gif, encode_gif

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .where(F.col("doc_id") % 20 == 4)
    )

    def fn(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 23, 16 + d % 11
                n = w * h
                buf = b"".join(
                    _hl.md5(f"{d}:{i}".encode()).digest()
                    for i in range((n + 15) // 16)
                )[:n]
                img = _np.frombuffer(buf, _np.uint8).reshape(h, w)
                dec = decode_gif(encode_gif(img, interlace=(d // 20) % 2 == 1))
                gray = dec[:, :, 0]
                rows.append(
                    (
                        d, w, h, (d // 20) % 2 == 1,
                        bool((gray == img).all() and (dec[:, :, 1] == img).all()),
                        _hl.md5(gray.tobytes().hex().encode()).hexdigest(),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "interlaced",
                    "roundtrip_ok", "pixels_md5",
                ],
            )

    return docs.mapInPandas(
        fn,
        "doc_id bigint, width int, height int, interlaced boolean, "
        "roundtrip_ok boolean, pixels_md5 string",
    ).orderBy("doc_id")


def q_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP codec (sources/bmp.py), EXACT-oracled: the same md5-chain
    buffer, written as an 8-bit grayscale-palette BI_RGB DIB
    (bottom-up or top-down row order by ``(doc_id // 20) % 2``), decoded
    back, decoded pixels fingerprinted; the DuckDB twin rebuilds the
    buffer arithmetically."""
    import hashlib as _hl

    from ocr_spark.sources.bmp import decode_bmp, encode_bmp

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .where(F.col("doc_id") % 20 == 8)
    )

    def fn(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 19, 16 + d % 7
                n = w * h
                buf = b"".join(
                    _hl.md5(f"{d}:{i}".encode()).digest()
                    for i in range((n + 15) // 16)
                )[:n]
                img = _np.frombuffer(buf, _np.uint8).reshape(h, w)
                dec = decode_bmp(encode_bmp(img, top_down=(d // 20) % 2 == 1))
                gray = dec[:, :, 0]
                rows.append(
                    (
                        d, w, h, (d // 20) % 2 == 1,
                        bool((gray == img).all() and (dec == dec[:, :, :1]).all()),
                        _hl.md5(gray.tobytes().hex().encode()).hexdigest(),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "top_down",
                    "roundtrip_ok", "pixels_md5",
                ],
            )

    return docs.mapInPandas(
        fn,
        "doc_id bigint, width int, height int, top_down boolean, "
        "roundtrip_ok boolean, pixels_md5 string",
    ).orderBy("doc_id")


def q_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV codec + integer audio features (sources/wav.py,
    operators/multimodal.extract_audio_features), EXACT-oracled
    cross-engine the png_roundtrip way: per sampled doc, 24 frames of 8
    int16 samples derive from an md5 chain (hex 4-char chunks − 32768 —
    reconstructible in SQL), round-trip encode_wav → decode_wav (PCM16
    is verbatim), then per-frame Σ|x| / zero-crossings / peak roll up in
    pure integer arithmetic.  A hash match proves the codec round-trip
    AND the feature kernel agree with an independent SQL rebuild."""
    import hashlib as _hl

    from ocr_spark.sources.wav import (
        decode_wav,
        encode_wav,
        frame_features,
    )

    docs = (
        _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") % 25 == 0)
    )

    def fn(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                digests = b"".join(
                    _hl.md5(f"{d}:{i}".encode()).digest() for i in range(24)
                )
                s = (
                    _np.frombuffer(digests, dtype=">u2").astype(_np.int64)
                    - 32768
                ).astype(_np.int16)
                dec, rate = decode_wav(encode_wav(s, sample_rate=16000))
                ok = bool((dec[:, 0] == s).all()) and rate == 16000
                ff = frame_features(dec, frame=8)
                rows.append(
                    (
                        d, len(ff), rate, ok,
                        int(ff[:, 0].sum()),
                        int(ff[:, 1].sum()),
                        int(ff[:, 2].max()),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "sample_rate", "roundtrip_ok",
                    "sum_abs", "zero_crossings", "peak",
                ],
            )

    return docs.mapInPandas(
        fn,
        "doc_id bigint, n_frames bigint, sample_rate int, "
        "roundtrip_ok boolean, sum_abs bigint, zero_crossings bigint, "
        "peak bigint",
    ).orderBy("doc_id")


def q_adopt_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 adopt analog (jobs/export_all.py adopt_artifacts /
    merge_registry / pending_exports — the reference's
    export_from_existing, server/src/utils/export.py:79-126, plus the
    skip-if-exists gate, export.py:142-143): synthetic external uploads
    (two competing txt uploads per %6 doc → bytewise-max overwrite, a
    pdf per %5 doc) adopt over a synthetic 'generated' registry (%2
    docs), and the pending gate decides which (doc, format) pairs still
    regenerate.  Pure relational — EXACT DuckDB twin on origin, bytes,
    md5, humanized size, and the will_generate decision."""
    from ocr_spark.jobs.export_all import (
        adopt_artifacts,
        merge_registry,
        pending_exports,
    )

    base = _docs(spark, sf_dir).select("doc_id")
    d = base.where("doc_id % 2 = 0 or doc_id % 3 = 0")
    a1 = base.where("doc_id % 3 = 0").selectExpr(
        "doc_id",
        "concat('/incoming/doc', cast(doc_id as string), '-a.txt') "
        "as filename",
        "cast(concat('adopted-txt-', cast(doc_id as string), ';') "
        "as binary) as content",
    )
    a2 = base.where("doc_id % 6 = 0").selectExpr(
        "doc_id",
        "concat('/incoming/doc', cast(doc_id as string), '-b.txt') "
        "as filename",
        "cast(concat('zz-adopted-txt-', cast(doc_id as string), ';') "
        "as binary) as content",
    )
    a3 = base.where("doc_id % 5 = 0").selectExpr(
        "doc_id",
        "concat('/incoming/doc', cast(doc_id as string), '.pdf') "
        "as filename",
        "cast(concat('adopted-pdf-', cast(doc_id as string)) as binary) "
        "as content",
    )
    a4 = base.where("doc_id % 7 = 0").selectExpr(
        "doc_id",
        "concat('/incoming/doc', cast(doc_id as string), '.tmp') "
        "as filename",
        "cast('ignored extension' as binary) as content",
    )
    adopted = adopt_artifacts(
        a1.unionByName(a2).unionByName(a3).unionByName(a4), ["txt", "pdf"]
    )
    gen = base.where("doc_id % 2 = 0").selectExpr(
        "doc_id",
        "'txt' as format",
        "cast(concat('generated-txt-', cast(doc_id as string)) as binary) "
        "as content",
    )
    existing = adopt_artifacts(gen, ["txt"]).withColumn(
        "origin", F.lit("generated")
    )
    merged = merge_registry(existing, adopted)
    want = pending_exports(d, ["txt", "pdf"], merged, force_recreate=True)
    pend = pending_exports(d, ["txt", "pdf"], merged).withColumn(
        "wg", F.lit(True)
    )
    return (
        want.join(
            merged.select("doc_id", "format", "origin", "n_bytes",
                          "md5", "size_h"),
            ["doc_id", "format"],
            "left",
        )
        .join(pend, ["doc_id", "format"], "left")
        .select(
            "doc_id",
            "format",
            F.coalesce("origin", F.lit("missing")).alias("origin"),
            "n_bytes",
            "md5",
            "size_h",
            F.coalesce("wg", F.lit(False)).alias("will_generate"),
        )
        .orderBy("doc_id", "format")
    )


def q_document_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 'download my results' journey (jobs/export_all.py
    document_bundle): the hOCR-fixture IR → txt + hOCR + ALTO + PDF +
    METS (real per-artifact md5s) → one deterministic ZIP per document.
    Rows-only gate (ZIP bytes; every piece is individually oracled —
    hocr_export, alto_words, pdf_export, export_csv, the METS golden —
    and the composition is re-parse-gated in tests/test_export_all.py)."""
    from ocr_spark.jobs.export_all import document_bundle

    ir = _docs(spark, sf_dir).selectExpr(
        "cast(doc_id as string) as doc_id",
        "cast(doc_id % 5 as int) as page_no",
        f"{_HOCR_IR_SYNTH} as paragraphs",
    )
    return document_bundle(ir).select(
        "doc_id", "n_entries", "n_bytes", F.md5("zip").alias("bundle_md5")
    )


#: cover-page IR for pdf_export: one constant word, so the fixture
#: exercises multi-page assembly (kids, interleaved object numbering,
#: cross-page xref offsets) alongside the doc-varying main page.
_PDF_COVER_IR = (
    "array(array(array(named_struct('text', 'cover', "
    "'box', array(100.0d, 100.0d, 300.0d, 140.0d), 'b', 136.0d, "
    "'confidence', cast(99 as int), 'font', cast(null as string)))))"
)


def q_pdf_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 export_pdf (sources/pdf.py pdf_documents): two synthesized
    pages per document (constant cover + the doc-varying hOCR fixture
    IR) → one complete searchable text-layer PDF file per document,
    byte-exact against the DuckDB twin, which rebuilds the identical
    file — content streams (Tz/Tm/escapes), object scaffolding, and
    the xref prefix-sum offsets — generically from the same shared
    constants.  One per-doc grouping shuffle (the METS shape)."""
    from ocr_spark.sources.pdf import pdf_documents

    ir = (
        _docs(spark, sf_dir)
        .selectExpr(
            "doc_id",
            f"explode(array("
            f"named_struct('page_no', 0, 'paragraphs', {_PDF_COVER_IR}), "
            f"named_struct('page_no', 1, 'paragraphs', {_HOCR_IR_SYNTH})"
            f")) as pg",
        )
        .select(
            "doc_id",
            F.col("pg.page_no").alias("page_no"),
            F.col("pg.paragraphs").alias("paragraphs"),
        )
    )
    return pdf_documents(ir)


def q_hocr_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hOCR page writer (sources/exporters.py hocr_pages): synthesized
    page IR → one Tesseract-shaped hOCR document per page — the export
    twin of the hOCR ingest leg (reference serves raw hOCR per document,
    server/app.py:488-494).  Exact string twin: the oracle rebuilds the
    identical XML (ids, hulls, decimal(20,6) baselines, entity escapes,
    and — r4 — the ocr_photo media divs for %4 docs, placed before
    paragraph index 1) from the same doc_id arithmetic.  Round-trip
    parse(write(ir, media)) == (ir, media) gated in
    tests/test_hocr_writer.py."""
    from ocr_spark.sources.exporters import hocr_pages

    docs = _docs(spark, sf_dir)
    ir = docs.selectExpr(
        "doc_id",
        "cast(doc_id % 5 as int) as page_no",
        f"{_HOCR_IR_SYNTH} as paragraphs",
    )
    media = docs.where("doc_id % 4 = 0").selectExpr(
        "doc_id",
        "cast(doc_id % 5 as int) as page_no",
        "cast(1 as int) as par_idx",
        "cast(0 as int) as seq",
        "concat('img-', cast(doc_id as string), '-1') as media_ref",
        "array(200.0d, 300.0d, cast(200 + doc_id % 50 as double), "
        "360.0d) as box",
    )
    return hocr_pages(ir, media=media)


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window gap sessions over events — the exact
    expression streaming/pipeline.py session_stats_stream runs
    incrementally, here as a batch groupBy so the boundary semantics are
    DuckDB-oracle-gated: inclusive merge (split iff gap > 30 min),
    session end = last event + gap.  One shuffle on user_id."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("win")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sv"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("sess_start"),
            F.col("win.end").alias("sess_end"),
            "n_events",
            F.col("_sv").cast("double").alias("sum_value"),
        )
    )


# Markdown fixture (html_markdown): depends only on doc_id, valid Spark
# SQL AND DuckDB SQL verbatim.  Branches: chrome link (stripped), h1
# with entity, CAPS h2 with attrs + double-encoded entity, bold/strong,
# italic, double- and single-quoted links, image, two-item list,
# conditional table, comment ghost, <br> break.
_MD_SYNTH = """concat(
 '<html><head><title>T</title></head><body>',
 '<nav><a href="/x">chrome link</a></nav>',
 '<h1>Guide &amp; Manual ', cast(doc_id % 50 as string), '</h1>',
 '<p>Intro with <b>bold</b>, <i>italic</i>, a ',
 '<a href="https://peer-', cast(doc_id % 7 as string),
 '.example.org/p">link label</a>, single ',
 '<a href=''/rel/page''>quoted link</a> and an ',
 '<img src="img/', cast(doc_id % 5 as string), '.jpg"> image.</p>',
 '<H2 class="s">Setup &amp;lt;fast&amp;gt;</H2>',
 '<ul><li>first item ', cast(doc_id % 10 as string), '</li>',
 '<li>second <strong>big</strong> item</li></ul>',
 case when doc_id % 3 = 0
      then concat('<table><tr><th>A</th><th>B', cast(doc_id % 4 as string),
                  '</th></tr><tr><td>1</td><td>2</td></tr></table>')
      else '' end,
 '<!-- <h1>ghost</h1> -->',
 '<p>Tail<br>break prose.</p></body></html>')"""


def q_html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → markdown rendering (operators/html.py html_markdown): the
    FineWeb/Jina-reader LLM-corpus presentation — headings as # runs,
    lists/tables/links/emphasis as markdown, chrome stripped, entity
    decode, whitespace discipline.  One linear zero-shuffle
    regexp_replace chain; every rule constant shared with the twin."""
    from ocr_spark.operators.html import html_markdown

    docs = _docs(spark, sf_dir).withColumn("html", F.expr(_MD_SYNTH))
    return html_markdown(docs.select("doc_id", "html"))


def q_fetch_to_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-7 crawl-to-corpus chain composed end-to-end: the
    markdown fixture wrapped in HTTP response payloads (some branches
    non-200 / non-HTML / truncated), gated by http_response_meta's
    keep verdict, bodies rendered by html_markdown.  The oracle
    composes the http_meta and html_markdown twins verbatim, so the
    wrap → gate → render round-trip is hash-gated in one comparison.
    Zero shuffle: both stages are narrow projections."""
    from ocr_spark.operators.html import html_markdown
    from ocr_spark.sources.warc import http_response_meta

    docs = _docs(spark, sf_dir).selectExpr("doc_id", f"{_MD_SYNTH} as h")
    wrapped = docs.selectExpr(
        "doc_id",
        "case when doc_id % 5 = 4 then 'garbage not http'"
        "     when doc_id % 5 = 3 then concat("
        "'HTTP/1.1 404 Not Found', chr(13), chr(10),"
        "'Content-Type: text/html', chr(13), chr(10), chr(13), chr(10), h)"
        "     else concat("
        "'HTTP/1.1 200 OK', chr(13), chr(10),"
        "'Content-Type: text/html; charset=utf-8', chr(13), chr(10),"
        " chr(13), chr(10), h) end as payload",
    )
    kept = http_response_meta(wrapped).where(F.col("keep"))
    return html_markdown(
        kept.select("doc_id", F.col("body").alias("html"))
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear file-layout pruning stats (operators/zorder.py):
    per-file min/max manifest stats for a Morton-key quadrant layout and
    the n_chars-linear layout over documents, each with the would_scan
    pruning verdict for the planted 2-D band predicate.  sum(would_scan)
    under zorder << linear is the measured skipping contrast.  One
    shuffle (≤ 2·64 groups, map-side combine); scale + key staged once;
    no global window anywhere."""
    from ocr_spark.operators.zorder import zorder_file_stats

    return zorder_file_stats(_docs(spark, sf_dir), "n_chars", "doc_id")


def q_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping sliding-window chunking
    (operators/packing.py sliding_chunks): 16-token windows, stride 12
    (4-token overlap) — small enough that ~54-token docs exercise the
    interior, overlap, and short-tail paths."""
    from ocr_spark.operators.packing import sliding_chunks

    return sliding_chunks(_docs(spark, sf_dir), size=16, stride=12)


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (operators/quality.py lm_quality):
    unigram model trained on the source='src2' slice, every other doc
    scored by average negative log-likelihood in integer micro-nats."""
    from ocr_spark.operators.quality import lm_quality

    docs = _docs(spark, sf_dir)
    return lm_quality(
        docs.where(F.col("source") != "src2"),
        docs.where(F.col("source") == "src2"),
    )


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality classifier (operators/classifier.py
    nb_quality): multinomial NB trained on lang='en' (positive) vs the
    rest (negative), every document scored by quantized log-odds — train
    AND inference fully oracle-gated."""
    from ocr_spark.operators.classifier import nb_quality

    docs = _docs(spark, sf_dir)
    return nb_quality(
        docs,
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff bigram LM quality (operators/quality.py
    bigram_lm_quality): reference slice source='src2' is the model, every
    other doc scored by negative mean log bigram transition score."""
    from ocr_spark.operators.quality import bigram_lm_quality

    docs = _docs(spark, sf_dir)
    return bigram_lm_quality(
        docs.where(F.col("source") != "src2"),
        docs.where(F.col("source") == "src2"),
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing + selection (operators/quality.py
    ccnet_partition): quartile head/middle/tail split of the lm_quality
    scores, head kept, middle deterministically half-sampled."""
    from ocr_spark.operators.quality import ccnet_partition

    docs = _docs(spark, sf_dir)
    return ccnet_partition(
        docs.where(F.col("source") != "src2"),
        docs.where(F.col("source") == "src2"),
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/sampling.py dsir_select):
    hashed unigram+bigram likelihood-ratio weights against the
    source='src2' target slice, Gumbel top-100 selection — the
    training-data selection step downstream of the quality filters."""
    from ocr_spark.operators.sampling import dsir_select

    docs = _docs(spark, sf_dir)
    return dsir_select(
        docs.where(F.col("source") != "src2"),
        docs.where(F.col("source") == "src2"),
        k=100,
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming near-dup pairs over the SimHash signatures
    (dedup.py hamming_neardup): lossless pigeonhole banding + exact
    bit_count verify — the pair machinery shared with the media
    average-hash path."""
    from ocr_spark.operators.dedup import hamming_neardup

    return hamming_neardup(D.simhash_signature(_docs(spark, sf_dir)))


def _q_media_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media reuse detection through the full multimodal path ON REAL
    PIXELS (r4: the round-3 verdict's re-lock): contract media refs →
    REAL PNGs whose pixels derive from a 16-way reuse class but whose
    BYTES differ per (doc, ref) — each member re-encodes the class image
    with its own scanline filter — → real decode → 8×8 box-mean aHash →
    banded Hamming join.  Byte-level dedup would miss every one of these
    pairs (no two members share bytes); the pixel hash catches them all —
    exactly what a perceptual near-dup stage is for.  Rows-only gate; the
    pair machinery is oracle-gated via simhash_neardup and the codec via
    png_roundtrip."""
    import hashlib as _hl

    from ocr_spark.operators.dedup import hamming_neardup
    from ocr_spark.operators.multimodal import media_avg_hash, synth_image
    from ocr_spark.sources.png import encode_png

    spans = spark.read.parquet(_contract_fixture())
    refs = (
        spans.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media_ref")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )

    def synth(it):
        import pandas as _pd

        # one real image per class, re-encoded per member (cached: 16
        # classes × 3 filters = 48 distinct encodes per worker)
        enc_cache: dict[tuple[int, int], bytes] = {}
        for pdf in it:
            content = []
            for d, r in zip(pdf["doc_id"], pdf["media_ref"]):
                cls = int(_hl.md5(str(r).encode()).hexdigest()[:12], 16) % 16
                ft = int(_hl.md5(f"{d}/{r}".encode()).hexdigest()[:2], 16) % 3
                key = (cls, ft)
                if key not in enc_cache:
                    enc_cache[key] = encode_png(
                        synth_image(f"cls-{cls}"), filters=ft,
                        compress_level=1,
                    )
                content.append(enc_cache[key])
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "content": content,
                    "mime": "image/png",
                }
            )

    media = refs.mapInPandas(
        synth,
        "doc_id string, media_ref string, content binary, mime string",
    )
    hashed = media_avg_hash(media).select(
        F.concat_ws("/", "doc_id", "media_ref").alias("item"), "ahash"
    )
    return hamming_neardup(
        hashed, hash_col="ahash", id_col="item", bits=64, max_hamming=5
    )


def _synth_url() -> F.Column:
    """Deterministic URL synthesis over the documents table (it carries no
    URL column): content identity derives from the dedup GROUP (doc_id %
    200 — a multiple of the 20-source cycle, so groups never straddle
    sources) and fetch noise from the DOC (host case-mangling, redundant
    default port, trailing slash, utm params, param order, fragment) —
    exactly the variation url_normalize must cancel.  Mirrored
    token-for-token by ``_SYNTH_URL_CTES`` (DuckDB)."""
    d = F.col("doc_id").cast("string")
    g = (F.col("doc_id") % 200).cast("string")
    hg = F.conv(F.substring(F.md5(g), 1, 6), 16, 10).cast("bigint")
    hd = F.conv(F.substring(F.md5(d), 1, 6), 16, 10).cast("bigint")
    scheme = F.when(hg % 5 == 0, "http").otherwise("https")
    sub = F.when(hg % 3 == 0, "www.").when(hg % 3 == 1, "").otherwise("blog.")
    tld = (
        F.when(hg % 7 == 0, "com")
        .when(hg % 7 == 1, "org")
        .when(hg % 7 == 2, "net")
        .when(hg % 7 == 3, "co.uk")
        .when(hg % 7 == 4, "com.au")
        .when(hg % 7 == 5, "io")
        .otherwise("gov.uk")
    )
    host = F.concat(
        sub, F.col("source"), F.lit("-"), (hg % 40).cast("string"),
        F.lit("."), tld,
    )
    hostraw = F.when(hd % 11 == 0, F.upper(host)).otherwise(host)
    port = F.when(
        hd % 13 == 0,
        F.when(scheme == F.lit("https"), ":443").otherwise(":80"),
    ).otherwise("")
    path = F.concat(
        F.lit("/"), F.col("source"), F.lit("/page-"), g,
        F.when(hd % 4 == 0, "/").otherwise(""),
    )
    q0 = F.concat(F.lit("id="), g)
    query = (
        F.when(hd % 6 == 0, F.concat(F.lit("?utm_source=feed&"), q0))
        .when(hd % 6 == 1, F.concat(F.lit("?"), q0, F.lit("&utm_campaign=x")))
        .when(hd % 6 == 2, F.concat(F.lit("?"), q0, F.lit("&ref=home")))
        .when(hd % 6 == 3, F.concat(F.lit("?ref=home&"), q0))
        .when(hd % 6 == 4, F.concat(F.lit("?"), q0))
        .otherwise("")
    )
    frag = F.when(hd % 9 == 0, F.concat(F.lit("#sec-"), d)).otherwise("")
    return F.concat(scheme, F.lit("://"), hostraw, port, path, query, frag)


def _docs_with_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⊕ the deterministic synthesized ``url``, materialized
    ONCE per (session, sf_dir) to a session-scoped temp parquet.

    In production the URL is a real parquet column; the fixture must
    behave like one.  Left as a live expression, the big ``_synth_url``
    md5/CASE tree gets re-inlined into every reference ``url_normalize``
    and ``registered_domain`` make (~8×), and the downstream hashAgg's
    generated grouping-key method exceeds the JVM 64 KB limit — Spark
    falls back to interpreted evaluation for the whole agg stage.
    Materializing restores both the production plan shape (column scan →
    codegen agg) and whole-stage compilation."""
    key = "".join(c if c.isalnum() else "_" for c in sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"ocr_spark_urls_{key}_{spark.sparkContext.applicationId}.parquet",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _docs(spark, sf_dir).withColumn("url", _synth_url()).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain curation rollup (operators/web.py) over
    synthesized URLs — the domain-blocklist / per-domain-prior table."""
    from ocr_spark.operators.web import domain_stats

    return domain_stats(_docs_with_url(spark, sf_dir))


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup groups under canonical normalization
    (operators/web.py url_dedup + functions/url.py url_normalize)."""
    from ocr_spark.operators.web import url_dedup

    return url_dedup(_docs_with_url(spark, sf_dir))


def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist applied to documents (operators/web.py
    domain_blocklist_filter): drop docs whose registered domain has
    en_frac < 0.3 — the per-domain prior acting at document level."""
    from ocr_spark.operators.web import domain_blocklist_filter

    return domain_blocklist_filter(_docs_with_url(spark, sf_dir))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-scoped repeated-line boilerplate removal (dedup.py
    line_boilerplate_filter — the RefinedWeb line-wise dedup pass).  The
    fixture plants the chrome the pass exists to catch: a per-domain
    copyright header and nav footer on every page (dropped wherever the
    domain has >= 3 docs) plus a doc-unique 'rare-<id>' line (always
    kept), wrapped around the real document text."""
    from ocr_spark.functions.url import registered_domain, url_host
    from ocr_spark.operators.dedup import line_boilerplate_filter

    docs = _docs_with_url(spark, sf_dir).withColumn(
        "domain", registered_domain(url_host(F.col("url")))
    )
    planted = docs.withColumn(
        "text",
        F.concat(
            F.lit("(c) "),
            F.col("domain"),
            F.lit(" rights\n"),
            F.col("text"),
            F.lit("\nhome | about | "),
            F.col("domain"),
            F.when(
                F.col("doc_id") % 97 == 0,
                F.concat(F.lit("\nrare-"), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ),
    )
    return line_boilerplate_filter(planted, scope_col="domain", min_docs=3)


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap candidates from winnowing fingerprints
    (dedup.py winnow_fingerprints/winnow_overlap — Schleimer et al.,
    SIGMOD 2003): 5-gram 40-bit hashes, window-4 rightmost-min
    selection, pairs sharing >= 2 selected hashes with the
    boilerplate guard at 1000 docs.  The corpus's natural quote reuse
    produces the pair set; the twin replays the identical packed-key
    selection."""
    from ocr_spark.operators.dedup import winnow_overlap

    return winnow_overlap(
        _docs(spark, sf_dir), k=5, w=4, min_shared=2, max_docs=1000
    )


def _snapshots(spark: SparkSession, sf_dir: str):
    """Deterministic two-snapshot split of the documents table for the
    drift family: A = even doc_ids, B = odd (same predicate in the
    oracle)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 drifted vocabulary between two corpus snapshots
    (operators/quality.py vocab_drift): per-word JSD contribution in
    integer micro-nats on the common denominator — the crawl-monitoring
    table.  Exactness per the lm_quality rule: one double ratio + one ln
    per word, quantized immediately; everything after is bigint."""
    from ocr_spark.operators.quality import vocab_drift

    a, b = _snapshots(spark, sf_dir)
    return vocab_drift(a, b, top_k=200)


def q_corpus_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus-divergence summary (operators/quality.py
    corpus_jsd): snapshot JSD in integer micro-nats + vocab/token counts
    per side — the scalar a drift alarm thresholds on."""
    from ocr_spark.operators.quality import corpus_jsd

    a, b = _snapshots(spark, sf_dir)
    return corpus_jsd(a, b)


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (operators/quality.py
    compression_ratio): the Gopher-era zlib proxy — repetitive templates
    compress far below prose, noise barely compresses.  Arrow-batched
    kernel; rows-only gate (no SQL engine ships zlib) + pytest with
    planted repetitive/noise/prose docs."""
    from ocr_spark.operators.quality import compression_ratio

    return compression_ratio(_docs(spark, sf_dir))


def q_fix_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair + NFC normalization (operators/textfix.py
    fix_text, the ftfy-lite pass): mojibake planted on every 3rd doc
    (utf-8-as-cp1252 'cafÃ©'), NFD on every 5th, NBSP on every 7th —
    the kernel must repair exactly those and pass the rest through.
    Rows-only gate (no SQL engine transcodes encodings) + pytest
    anchors in tests/test_textfix.py."""
    from ocr_spark.operators.textfix import fix_text

    moj = "café naïve".encode("utf-8").decode("cp1252")
    nfd = "étude"
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" " + moj)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" " + nfd)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" end")).otherwise(
                F.lit("")
            ),
        ),
    )
    return fix_text(docs)


# JSONL fixture: plant every escape-relevant special through chr() codes
# (NEVER backslash string literals — Spark SQL processes them, DuckDB
# standard strings don't; chr() sidesteps both engines' literal rules).
# C4 fixture: multi-line synthesized pages over the word-soup documents
# table, one rule-branch per residue class (ANSI, valid in both engines).
# The word-soup substring line has no terminal punctuation — it exercises
# the non-terminal drop on REAL table text, not only on planted literals.
_C4_SYNTH = """concat_ws(chr(10),
 concat('Paragraph one of doc ', cast(doc_id as string), ' opens with ',
        substring(coalesce(text, ''), 1, 24), ' and ends cleanly.'),
 case when doc_id % 2 = 0
      then 'A second thought arrives here, and a third one follows it. So!'
      end,
 case when doc_id % 3 = 0 then 'Too short.' end,
 case when doc_id % 4 = 0
      then 'Please enable javascript to view the comments on this page.'
      end,
 substring(coalesce(text, ''), 1, 32),
 case when doc_id % 5 = 0
      then 'The classic lorem ipsum filler text shows up on this line.'
      end,
 case when doc_id % 7 = 0
      then 'var config = { mode: full } runs on page load every time.'
      end,
 'Trailing navigation crumbs')"""


_JSONL_SYNTH = """concat_ws('',
 coalesce(text, ''),
 case when doc_id % 4 = 0
      then concat(' said ', chr(34), 'quoted', chr(34)) end,
 case when doc_id % 5 = 0 then concat(' back', chr(92), 'slash') end,
 case when doc_id % 6 = 0 then concat(' line', chr(10), 'break') end,
 case when doc_id % 7 = 0
      then concat(' tab', chr(9), 'cr', chr(13), 'end') end)"""


def q_jsonl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL training export (sources/exporters.py jsonl_records):
    compact one-object-per-line records assembled by deterministic
    concatenation, hash-gated byte-for-byte against the DuckDB twin
    over text with planted quotes/backslashes/newlines/tabs."""
    from ocr_spark.sources.exporters import jsonl_records

    return jsonl_records(
        _docs(spark, sf_dir).withColumn("text", F.expr(_JSONL_SYNTH))
    )


# Gopher fixture: word-soup docs + one planted rule-violation per
# residue class.  %3!=0 docs get two extra canonical stopwords (the soup
# itself carries ~1 hit, so r_stop splits on the residue); %4 hashes,
# %5 bullet floods, %6 ellipsis lines, %7 digit-word floods.
_GOPHER_SYNTH = """concat_ws('',
 coalesce(text, ''),
 case when doc_id % 3 <> 0 then ' of that have' end,
 case when doc_id % 4 = 0 then ' ### ## #' end,
 case when doc_id % 5 = 0
      then repeat(concat(chr(10), '• bullet item'), 10) end,
 case when doc_id % 6 = 0 then concat(chr(10), 'to be continued...') end,
 case when doc_id % 7 = 0 then ' 0 1 2 3 4 5 6 7 8 9 0 1 2 3 4 5' end)"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (operators/quality.py gopher_rules, Rae et
    al. 2021 App. A1): word-count / mean-word-length / symbol-ratio /
    bullet-line / ellipsis-line / alpha-word / stopword gates, every
    ratio an integer cross-multiplication.  Zero shuffle."""
    from ocr_spark.operators.quality import gopher_rules

    return gopher_rules(
        _docs(spark, sf_dir).withColumn("text", F.expr(_GOPHER_SYNTH))
    )


# Gopher-repetition fixture: %4 floods duplicate lines, %5 duplicate
# paragraphs, %7 plants one long duplicated line among uniques (trips
# the CHAR fraction while the count fraction stays legal).
_GOPHER_REP_SYNTH = """concat_ws('',
 coalesce(text, ''),
 case when doc_id % 4 = 0
      then repeat(concat(chr(10), 'dup line'), 6) end,
 case when doc_id % 5 = 0
      then repeat(concat(chr(10), chr(10), 'dup para'), 3) end,
 case when doc_id % 7 = 0
      then concat(chr(10), 'u1', chr(10), 'u2', chr(10), 'u3',
                  chr(10), 'u4', chr(10), 'u5', chr(10), 'u6',
                  chr(10), 'u7', chr(10), 'u8', chr(10), 'u9',
                  chr(10), 'u10',
                  chr(10), substring(coalesce(text, ''), 1, 200),
                  chr(10), substring(coalesce(text, ''), 1, 200)) end)"""


# Stack fixture: the C4 multi-line page plus per-residue casualties for
# the LATER stages — both planted lines survive C4 (terminal punct, >=5
# words) so they reach the stage they are aimed at: %11 duplicates trip
# gopher_repetition, %13 hash spam trips gopher_rules' symbol ratio.
_STACK_SYNTH = f"""concat_ws(chr(10),
 {_C4_SYNTH},
 case when doc_id % 11 = 0 then concat_ws(chr(10),
   'This duplicated line is long enough and ends with a period.',
   'This duplicated line is long enough and ends with a period.',
   'This duplicated line is long enough and ends with a period.',
   'This duplicated line is long enough and ends with a period.') end,
 case when doc_id % 13 = 0
      then 'Big sale #### today #### only #### here #### now.' end)"""


def q_quality_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed filter funnel (operators/quality.py quality_stack):
    C4 clean → Gopher rules (word floor 10) → Gopher repetition, stages
    2-3 reading the C4-cleaned text; the whole battery is ONE narrow
    scan stage (plan-asserted in tests/test_quality_stack.py).  Oracle
    composes the three stage twins verbatim."""
    from ocr_spark.operators.quality import quality_stack

    return quality_stack(
        _docs(spark, sf_dir).withColumn("text", F.expr(_STACK_SYNTH)),
        min_words=10,
    )


def q_quality_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE App. A1 battery (operators/quality.py
    quality_stack_full): the zero-shuffle funnel's verdicts joined with
    the n-gram repetition rules over the same C4-cleaned text — five
    per-stage verdicts plus the conjunction."""
    from ocr_spark.operators.quality import quality_stack_full

    return quality_stack_full(
        _docs(spark, sf_dir).withColumn("text", F.expr(_STACK_SYNTH)),
        min_words=10,
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line/paragraph rules (operators/quality.py
    gopher_repetition): per-row sorted-array adjacent-equality stats,
    integer cross-multiplied fractions, zero shuffle."""
    from ocr_spark.operators.quality import gopher_repetition

    return gopher_repetition(
        _docs(spark, sf_dir).withColumn("text", F.expr(_GOPHER_REP_SYNTH))
    )



def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic cleaning (operators/quality.py c4_line_filter,
    Raffel et al. 2020 §2.2): line-level terminal-punct / ≥5-word /
    no-javascript keeps, page-level ≥3-sentence / lorem / brace kills,
    over ``_C4_SYNTH`` multi-line pages.  Zero shuffle — one staged
    array filter HOF fused into the scan stage."""
    from ocr_spark.operators.quality import c4_line_filter

    docs = _docs(spark, sf_dir).withColumn("text", F.expr(_C4_SYNTH))
    return c4_line_filter(docs)


def q_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spam mass (operators/graph.py spam_mass — Gyöngyi et al. 2006):
    PageRank share minus TrustRank share per registered domain over the
    SAME synthesized link graph as domain_pagerank/domain_trustrank —
    the canonical link-spam signal composed from the two priors this
    engine already computes.  Integer micro-unit shares, exact twin =
    the two unrolled fixed-point twins joined and differenced."""
    from ocr_spark.functions.url import registered_domain, url_host
    from ocr_spark.operators.graph import pagerank, spam_mass, trustrank

    t = _docs_with_url(spark, sf_dir).select(
        "doc_id", registered_domain(url_host(F.col("url"))).alias("domain")
    )
    n_docs = t.count()
    tgt = t.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    ((F.col("doc_id") * 31 + k * 101) % n_docs)
                    for k in (1, 2, 3)
                ]
            )
        ).alias("dst_doc"),
    )
    edges = (
        tgt.join(t.select("doc_id", F.col("domain").alias("src")), "doc_id")
        .join(
            t.select(
                F.col("doc_id").alias("dst_doc"),
                F.col("domain").alias("dst"),
            ),
            "dst_doc",
        )
        .select("src", "dst")
    )
    seeds = (
        t.select(F.col("domain").alias("node"))
        .where(
            F.col("node").endswith(".org") | F.col("node").endswith(".gov.uk")
        )
        .distinct()
    )
    return spam_mass(pagerank(edges), trustrank(edges, seeds)).select(
        F.col("node").alias("domain"),
        "pr_micro",
        "tr_micro",
        "mass_micro",
        "rel_mass",
    )


def q_domain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (operators/graph.py
    label_propagation — Raghavan et al. 2007) over the SAME synthesized
    registered-domain link graph: 5 synchronous deterministic rounds,
    (count desc, label asc) ties — splits link communities that
    connected components cannot.  Twin = the same rounds unrolled with a
    row_number argmax."""
    from ocr_spark.functions.url import registered_domain, url_host
    from ocr_spark.operators.graph import label_propagation

    t = _docs_with_url(spark, sf_dir).select(
        "doc_id", registered_domain(url_host(F.col("url"))).alias("domain")
    )
    n_docs = t.count()
    tgt = t.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    ((F.col("doc_id") * 31 + k * 101) % n_docs)
                    for k in (1, 2, 3)
                ]
            )
        ).alias("dst_doc"),
    )
    edges = (
        tgt.join(t.select("doc_id", F.col("domain").alias("src")), "doc_id")
        .join(
            t.select(
                F.col("doc_id").alias("dst_doc"),
                F.col("domain").alias("dst"),
            ),
            "dst_doc",
        )
        .select("src", "dst")
    )
    return label_propagation(edges, n_iter=5).select(
        F.col("node").alias("domain"), "community", "community_size"
    )


def q_link_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-structure spam features (operators/graph.py link_features —
    Becchetti et al. 2008): degrees, reciprocity share, self-linking per
    registered domain over the same synthesized graph — the feature
    block that feeds the per-domain prior alongside pagerank/spam_mass."""
    from ocr_spark.functions.url import registered_domain, url_host
    from ocr_spark.operators.graph import link_features

    t = _docs_with_url(spark, sf_dir).select(
        "doc_id", registered_domain(url_host(F.col("url"))).alias("domain")
    )
    n_docs = t.count()
    tgt = t.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    ((F.col("doc_id") * 31 + k * 101) % n_docs)
                    for k in (1, 2, 3)
                ]
            )
        ).alias("dst_doc"),
    )
    edges = (
        tgt.join(t.select("doc_id", F.col("domain").alias("src")), "doc_id")
        .join(
            t.select(
                F.col("doc_id").alias("dst_doc"),
                F.col("domain").alias("dst"),
            ),
            "dst_doc",
        )
        .select("src", "dst")
    )
    return link_features(edges).select(
        F.col("node").alias("domain"),
        "out_deg",
        "in_deg",
        "n_recip",
        "recip_micro",
        "self_loop",
    )


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level PageRank (operators/graph.py pagerank): the link-graph
    quality prior over the registered-domain graph.  Links are synthesized
    deterministically (each doc links to the domains of 3 arithmetically
    derived peer docs — mirrored verbatim by the oracle's ``tgt`` CTE);
    10 integer fixed-point iterations, damping 0.85, exact bigint ranks
    (no float tolerance anywhere — see the operator docstring)."""
    from ocr_spark.functions.url import registered_domain, url_host
    from ocr_spark.operators.graph import pagerank

    t = _docs_with_url(spark, sf_dir).select(
        "doc_id", registered_domain(url_host(F.col("url"))).alias("domain")
    )
    n_docs = t.count()
    tgt = t.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    ((F.col("doc_id") * 31 + k * 101) % n_docs)
                    for k in (1, 2, 3)
                ]
            )
        ).alias("dst_doc"),
    )
    edges = (
        tgt.join(t.select("doc_id", F.col("domain").alias("src")), "doc_id")
        .join(
            t.select(
                F.col("doc_id").alias("dst_doc"),
                F.col("domain").alias("dst"),
            ),
            "dst_doc",
        )
        .select("src", "dst")
    )
    return pagerank(edges).select(F.col("node").alias("domain"), "rank")


def q_domain_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level TrustRank (operators/graph.py trustrank): the
    spam-demotion companion to domain_pagerank over the SAME synthesized
    link graph, with the teleport restricted to a curated trust list —
    here the ``.org`` / ``.gov.uk`` registered domains, the classic
    "hand-vetted seed" stand-in.  Same exact-bigint fixed point; the
    DuckDB twin unrolls the 10 seed-restricted iterations."""
    from ocr_spark.functions.url import registered_domain, url_host
    from ocr_spark.operators.graph import trustrank

    t = _docs_with_url(spark, sf_dir).select(
        "doc_id", registered_domain(url_host(F.col("url"))).alias("domain")
    )
    n_docs = t.count()
    tgt = t.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    ((F.col("doc_id") * 31 + k * 101) % n_docs)
                    for k in (1, 2, 3)
                ]
            )
        ).alias("dst_doc"),
    )
    edges = (
        tgt.join(t.select("doc_id", F.col("domain").alias("src")), "doc_id")
        .join(
            t.select(
                F.col("doc_id").alias("dst_doc"),
                F.col("domain").alias("dst"),
            ),
            "dst_doc",
        )
        .select("src", "dst")
    )
    seeds = (
        t.select(F.col("domain").alias("node"))
        .where(
            F.col("node").endswith(".org") | F.col("node").endswith(".gov.uk")
        )
        .distinct()
    )
    return trustrank(edges, seeds).select(
        F.col("node").alias("domain"), "rank"
    )


def q_domain_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level HITS hubs & authorities (operators/graph.py hits) over
    the SAME synthesized link graph as domain_pagerank/domain_trustrank —
    the third link-quality prior (authority) plus the hub/authority split
    that is itself a spam feature.  8 L1-normalized integer fixed-point
    half-step pairs, exact bigint scores; the DuckDB twin unrolls all 16
    half-steps with the identical floor divisions."""
    from ocr_spark.functions.url import registered_domain, url_host
    from ocr_spark.operators.graph import hits

    t = _docs_with_url(spark, sf_dir).select(
        "doc_id", registered_domain(url_host(F.col("url"))).alias("domain")
    )
    n_docs = t.count()
    tgt = t.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    ((F.col("doc_id") * 31 + k * 101) % n_docs)
                    for k in (1, 2, 3)
                ]
            )
        ).alias("dst_doc"),
    )
    edges = (
        tgt.join(t.select("doc_id", F.col("domain").alias("src")), "doc_id")
        .join(
            t.select(
                F.col("doc_id").alias("dst_doc"),
                F.col("domain").alias("dst"),
            ),
            "dst_doc",
        )
        .select("src", "dst")
    )
    return hits(edges).select(
        F.col("node").alias("domain"), "hub", "auth"
    )


def q_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest table (jobs/shards.py): pack → md5 shard
    assignment → per-shard counts + order-invariant fingerprint sums —
    the deterministic-output contract of write_training_shards, minus
    the filesystem."""
    from ocr_spark.jobs.shards import shard_assign, shard_stats
    from ocr_spark.operators.packing import pack_sequences

    seqs = pack_sequences(_docs(spark, sf_dir), seq_len=64)
    return shard_stats(shard_assign(seqs, n_shards=8))


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage inverted index.  The driver canonicalizer hashes
    scalar columns only (pandas sort_values dies on list cells), so the
    sorted posting array is projected to a space-joined string."""
    from ocr_spark.operators.index import inverted_index

    # max_postings=None: exact variant for oracle parity (the scale
    # default caps degenerate hot-word arrays; df stays exact either way)
    idx = inverted_index(_docs(spark, sf_dir), max_postings=None)
    return idx.select(
        "word", F.array_join("postings", " ").alias("postings"), "df"
    )


def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive XY-cut reading order (layout.py `xy_cut_order`) over a
    header + two-column block layout synthesized per document from
    md5(doc_id) — the geometry family where column-major order has a
    closed form, so the recursive kernel is EXACTLY oracle-checkable:
    the DuckDB twin derives the same (n, header) parameters from the
    same md5 bytes and asserts rank = header-first, then the left
    column top-down, then the right.  Column y-intervals interleave
    (right offset +15 of the 30 stride) so the body never has a
    full-width valley and the first cut is the column gutter.

    General layouts (nested cuts, leaf fallback, permutation property)
    are pytest-gated in tests/test_layout.py."""
    from ocr_spark.operators.layout import xy_cut_order

    docs = _docs(spark, sf_dir).select("doc_id")
    key = F.md5(F.col("doc_id").cast("string"))
    h1 = F.ascii(F.substring(key, 1, 1))
    h2 = F.ascii(F.substring(key, 2, 1))
    n = (h1 % 3 + 2).cast("int")
    blk_t = "array<struct<block_id:int, box:array<double>>>"

    def _blk(bid, left, top, right, bottom):
        return F.struct(
            bid.cast("int").alias("block_id"),
            F.array(
                left.cast("double"),
                top.cast("double"),
                right.cast("double"),
                bottom.cast("double"),
            ).alias("box"),
        )

    header = F.when(
        h2 % 2 == 0,
        F.array(_blk(F.lit(0), F.lit(0), F.lit(0), F.lit(100), F.lit(15))),
    ).otherwise(F.array().cast(blk_t))
    seq = F.sequence(F.lit(0), n - 1)
    left_col = F.transform(
        seq,
        lambda i: _blk(i + 100, F.lit(0), i * 30 + 20, F.lit(45), i * 30 + 40),
    )
    right_col = F.transform(
        seq,
        lambda i: _blk(i + 200, F.lit(55), i * 30 + 35, F.lit(100), i * 30 + 55),
    )
    pages = docs.select(
        "doc_id",
        F.lit(0).alias("page_no"),
        F.concat(header, left_col, right_col).alias("blocks"),
    )
    return xy_cut_order(pages).select("doc_id", "block_id", "ord_rank")


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container walk (sources/warc.py): documents are serialized
    into deterministic multi-record WARC files (one response record per
    doc, ~doc_id%50 docs per file, ASCII payload ``doc-<id>:<md5(text)>``
    so char offsets == byte offsets in both engines), then the
    Content-Length record walk re-extracts them.  The DuckDB twin states
    the closed-form expected parse — the kernel must invert the
    serialization exactly, including the Content-Length arithmetic and
    per-file record indexing.  Magic-in-payload robustness and malformed
    tails are pytest-gated (tests/test_warc.py)."""
    from ocr_spark.sources.warc import warc_records

    docs = _docs(spark, sf_dir)
    payload = F.concat(
        F.lit("doc-"), F.col("doc_id").cast("string"), F.lit(":"), F.md5("text")
    )
    rec = F.concat(
        F.lit(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://example.org/doc/"
        ),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"),
        payload,
        F.lit("\r\n\r\n"),
    )
    files = (
        docs.select(
            (F.col("doc_id") % 50).alias("file_id"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("file_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["rec"]
                ),
                "",
            ).alias("content")
        )
    )
    return warc_records(files)


def q_warc_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl front end, end-to-end: synthesized HTML pages
    are wrapped in HTTP responses, serialized into multi-record WARC
    files, then the chain warc_records → response filter → HTTP header
    strip → html_spans recovers the main-content spans.  The oracle is
    the PLAIN html_extract twin — the WARC+HTTP round-trip must be
    exactly invisible, which gates the record walk, the Content-Length
    arithmetic and the header-strip seam in one comparison.

    Content-Length here is in characters (the synthesized fixture's
    string leg); real byte archives enter as binary and walk latin-1
    chars == bytes (sources/warc.py)."""
    from ocr_spark.operators.html import html_spans
    from ocr_spark.sources.warc import warc_records

    docs = _docs(spark, sf_dir).withColumn("html", F.expr(_HTML_SYNTH))
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        F.col("html"),
    )
    rec = F.concat(
        F.lit(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://example.org/doc/"
        ),
        F.col("doc_id").cast("string"),
        F.lit(
            "\r\nContent-Type: application/http;msgtype=response"
            "\r\nContent-Length: "
        ),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"),
        payload,
        F.lit("\r\n\r\n"),
    )
    files = (
        docs.select(
            (F.col("doc_id") % 50).alias("file_id"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("file_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["rec"]
                ),
                "",
            ).alias("content")
        )
    )
    recs = warc_records(files).where(F.col("warc_type") == "response")
    hdr_end = F.locate("\r\n\r\n", F.col("payload"))
    pages = recs.select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.col("payload").substr(hdr_end + 4, F.length("payload")).alias("html"),
    )
    return html_spans(pages)


#: the exact-phrase driver query's phrase — present in the synthetic corpus
#: at every SF; shared verbatim with the oracle twin.
_PHRASE = ("big", "order", "scan")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval (operators/search.py `phrase_search`): the
    ES match_phrase analog via the slot-cover formulation (every
    occurrence of phrase[i] votes for start pos−i; a start covered by all
    slots is a match).  Overlap/repeated-term semantics are pytest-gated
    (tests/test_search.py brute-force model)."""
    from ocr_spark.operators.search import phrase_search

    return phrase_search(_docs(spark, sf_dir), _PHRASE)


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (dedup.py `cdc_chunk_stats`):
    boundary = md5-prefix of the token ≡ 0 (mod 8), so chunk identity is
    shift-robust — the fixed-window family's phase fragility is
    pytest-contrasted in tests/test_dedup_ops.py."""
    from ocr_spark.operators.dedup import cdc_chunk_stats

    return cdc_chunk_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_word_pages_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 editor map (get_file_parsed, file.py:116-150): RAW-keyed
    word→pages with per-occurrence duplicates; pages synthesized as
    100-raw-token blocks (flat table has no physical pages)."""
    from ocr_spark.operators.index import word_pages_raw

    return word_pages_raw(_docs(spark, sf_dir))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.cosine_topk_bruteforce(emb, emb, k=5)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_neardup_exact(_emb(spark, sf_dir), threshold=0.5)


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of embedding_neardup: LSH-blocked pair generation, no
    index broadcast.  Approximate in recall only (pytest measures it and
    proves the no-false-positive subset property vs the exact operator),
    so rows-only at the driver gate."""
    return S.embedding_neardup_lsh(_emb(spark, sf_dir), threshold=0.5)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.cosine_topk_lsh(emb, emb, k=5)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.cosine_topk_ivf(emb, emb, k=5)


def q_ann_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probing every cell is EXACT top-k (the inverted file merely
    partitions the index), so unlike ann_ivf it carries a SQL oracle —
    the correctness gate for the whole IVF machinery (distributed cell
    assignment, cell-local join, windowed re-rank), not just its recall."""
    emb = _emb(spark, sf_dir)
    return S.cosine_topk_ivf(emb, emb, k=5, n_centroids=16, n_probe=16)


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (compressed-codes broadcast + ADC shortlist
    + exact re-rank).  Approximate in recall only — reported sims are true
    cosines (pytest proves both); rows-only at the driver gate."""
    emb = _emb(spark, sf_dir)
    return S.cosine_topk_pq(emb, emb, k=5)


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC) ANN — the unbounded-index tier: distributed
    inverted file of residual-PQ codes, cell-probe + cell-local ADC
    shortlist, exact re-rank.  No O(N) broadcast/collect anywhere.
    Approximate in recall only (rows-only gate; recall + exactness
    pytests in tests/test_similarity.py)."""
    emb = _emb(spark, sf_dir)
    return S.cosine_topk_ivfpq(emb, emb, k=5)


def q_ann_ivfpq_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probing every cell with a full-length shortlist makes IVF-PQ exact
    top-k (every vector reaches the true-cosine re-rank), so this row
    carries the brute-force SQL oracle — gating the whole machinery:
    sampled residual codebooks, distributed encode, cell routing, ADC
    scan, shortlist join, group re-rank."""
    emb = _emb(spark, sf_dir)
    return S.cosine_topk_ivfpq(
        emb, emb, k=5, n_probe=16, shortlist=emb.count()
    )


def q_ann_pq_fullrefine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A full-length ADC shortlist makes PQ + exact refine EXACT top-k
    (every candidate reaches the true-cosine re-rank), so like
    ann_ivf_fullprobe this row carries the brute-force SQL oracle — it
    gates the whole PQ machinery (sampled codebook training, distributed
    encode, ADC scan, shortlist join, group re-rank), not just recall."""
    emb = _emb(spark, sf_dir)
    return S.cosine_topk_pq(emb, emb, k=5, shortlist=emb.count())


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One spherical-k-means assignment step against deterministically
    seeded centroids (k vectors with the smallest md5('c|'||vec_id)) —
    the SQL-exact gate for the clustering machinery: similarities rounded
    to 4 decimals, ties to the lowest cluster index
    (operators/clustering.py kmeans_assign)."""
    from ocr_spark.operators import clustering as C

    emb = _emb(spark, sf_dir)
    cent = C.init_centroids(emb, k=8)
    return C.kmeans_assign(emb, cent, round_sim=4)


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed Lloyd's spherical k-means (k=8, 5 iterations):
    per-iteration narrow Arrow pass emitting integer-quantized partial
    sums, O(k·dim) driver state, partitioning-invariant labels
    (operators/clustering.py kmeans_cluster).  Exact twin = the 5 Lloyd
    rounds unrolled (md5 seeding, round-12 argmax, per-member int64
    2^40-unit contributions, normalize-or-keep centroid update);
    model-equality + invariance pytests in tests/test_clustering.py."""
    from ocr_spark.operators import clustering as C

    emb = _emb(spark, sf_dir)
    assigned, _ = C.kmeans_cluster(emb, k=8, iters=5)
    return assigned


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the learned 10-rule BPE vocab: merges
    segment the distinct-word vocab (O(vocab) per rule), a word→count
    join prices each doc (operators/bpe.py bpe_encode).  Exact twin =
    the 10 trainer rounds unrolled + the run-parity greedy fold applied
    to the same vocab; encode-equality pytest in tests/test_bpe.py."""
    from ocr_spark.operators import bpe as B

    docs = _docs(spark, sf_dir)
    merges, _ = B.bpe_train(docs, n_merges=10)
    return B.bpe_encode(docs, [(l, r) for l, r, _ in merges])


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding near-duplicate pairs WITHIN k-means clusters —
    the cluster key bounds the pairwise work (Σ|cluster|² not N²).  Seed
    centroids (iters=0) keep the assignment single-step so the whole
    pipeline has an exact SQL twin; scoring is the per-cluster BLAS
    pattern, threshold 0.3 for fixture signal (0.95 in production)
    (operators/clustering.py semantic_dedup)."""
    from ocr_spark.operators import clustering as C

    return C.semantic_dedup(_emb(spark, sf_dir), k=8, threshold=0.3)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 BPE pair statistics: adjacent symbol-pair frequencies over
    the corpus word vocab (char symbols + </w> marker), weighted by word
    frequency — the SQL-exact gate for the BPE trainer's aggregation
    (operators/bpe.py pair_counts)."""
    from ocr_spark.operators import bpe as B

    return B.pair_counts(B.word_vocab(_docs(spark, sf_dir)))


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge rules (10 rounds, freq-desc/lex tie-break):
    iterated distributed pair-count argmax + pure-Catalyst greedy fold
    (operators/bpe.py bpe_train).  Exact twin = 10 unrolled CTE rounds
    (all-integer counts, total tie-break, greedy == run-parity); exact
    equality vs a pure-Python reference trainer in tests/test_bpe.py."""
    from ocr_spark.operators import bpe as B

    return B.bpe_merges_df(_docs(spark, sf_dir), n_merges=10)


# ---------------------------------------------------------------------------
# SQL twins
# ---------------------------------------------------------------------------

def _lang_sql() -> str:
    langs = sorted(T.LANG_STOPWORDS)
    score_exprs = []
    for lang in langs:
        inlist = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
        score_exprs.append(
            f"cast(len(list_filter(toks, t -> t in ({inlist}))) as bigint) as score_{lang}"
        )
    # CASE chain replicating lang_pred's tie-break (strictly-greater beats)
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"case when score_{lang} > {best} then '{lang}' else {pred} end"
        best = f"greatest(score_{lang}, {best})"
    return f"""
with t as (select doc_id, {_NT} as toks from documents),
s as (select doc_id, {', '.join(score_exprs)} from t)
select doc_id, {pred} as lang_pred,
       {', '.join(f'score_{lang}' for lang in langs)}
from s
"""


# Multi-paragraph mixed-language fixture (lang_segments): valid Spark SQL
# and DuckDB SQL verbatim over documents.  Paragraph sequence per doc:
# an English lead (merges with the %3=2 English continuation — the
# run-merge path), a doc_id-dependent es/de/en paragraph, a
# whitespace-only paragraph (must be dropped), a Portuguese paragraph, a
# French paragraph on even docs, and a zero-stopword paragraph that takes
# the deterministic lexicographic tie-break ('de').
_PARA_SYNTH = """'the of and to in that it is for ' || substring(text, 1, 30)
 || chr(10) || chr(10)
 || case when doc_id % 3 = 0
         then 'el la de que y en un los se por numero '
              || cast(doc_id % 9 as string)
         when doc_id % 3 = 1
         then 'der die und das von zu den mit ist ein seite'
         else 'the a of and to in is document continues here' end
 || chr(10) || chr(10) || '   ' || chr(10) || chr(10)
 || 'o a de que e do da em um para fim'
 || case when doc_id % 2 = 0
         then chr(10) || chr(10)
              || 'le la de et les des un une du que voila'
         else '' end
 || chr(10) || chr(10) || 'zzz 9' || cast(doc_id % 5 as string) || ' qqq'"""


def _lang_segments_sql() -> str:
    """lang_segments twin: same paragraph split/drop, the lang_id CASE
    chain per paragraph, lag+running-sum run detection, and an
    order-preserving string_agg rejoin."""
    from ocr_spark.operators.quality import PARA_SPLIT_RE

    langs = sorted(T.LANG_STOPWORDS)
    score_exprs = []
    for lang in langs:
        inlist = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
        score_exprs.append(
            f"cast(len(list_filter(toks, t -> t in ({inlist}))) "
            f"as bigint) as score_{lang}"
        )
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"case when score_{lang} > {best} then '{lang}' else {pred} end"
        best = f"greatest(score_{lang}, {best})"
    return f"""
with p0 as (select doc_id, {_PARA_SYNTH} as ptxt from documents),
p1 as (select doc_id,
              list_filter(regexp_split_to_array(ptxt, '{PARA_SPLIT_RE}'),
                          x -> trim(x) <> '') as ps
       from p0),
pe as (select doc_id, unnest(ps) as para,
              cast(unnest(range(0, len(ps))) as int) as para_idx from p1),
pt as (select doc_id, para_idx, para, {_nt_of('para')} as toks from pe),
psc as (select doc_id, para_idx, para, {', '.join(score_exprs)} from pt),
pl as (select doc_id, para_idx, para, {pred} as lang from psc),
pch as (select *, case when lag(lang) over
                 (partition by doc_id order by para_idx) is distinct from lang
                 then 1 else 0 end as chg from pl),
pg as (select *, sum(chg) over (partition by doc_id order by para_idx)
              as seg_id from pch)
select doc_id, cast(seg_id as bigint) as seg_id, min(lang) as lang,
       cast(count(*) as bigint) as n_paras,
       cast(min(para_idx) as int) as first_para,
       string_agg(para, chr(10) || chr(10) order by para_idx) as text
from pg group by doc_id, seg_id
"""


def _gopher_ngram_sql(src: str = "documents") -> str:
    """gopher_ngram_repetition twin: same lead()-window gram build (as a
    UNION ALL over n), same count window, same top tie-break
    (count desc, gram asc), same de-overlapped coverage via DISTINCT
    positions, same integer cross-multiplied rules."""
    from ocr_spark.operators.quality import (
        GOPHER_DUP_NGRAM_PCT,
        GOPHER_TOP_NGRAM_PCT,
    )

    tops = sorted(GOPHER_TOP_NGRAM_PCT)
    dups = sorted(GOPHER_DUP_NGRAM_PCT)
    lead_cols = ", ".join(
        f"lead(tok, {k}) over (partition by doc_id order by pos) as l{k}"
        for k in range(1, 10)
    )
    gram_arms = []
    for n in tops + dups:
        g = " || ' ' || ".join(["tok"] + [f"l{k}" for k in range(1, n)])
        gram_arms.append(
            f"select doc_id, pos, {n} as n, {g} as gram from ld "
            f"where l{n - 1} is not null"
        )
    ge = "\nunion all\n".join(gram_arms)
    top_sums = ", ".join(
        f"cast(sum(case when n = {n} and c >= 2 "
        f"then c * (length(gram) - {n - 1}) "
        f"else 0 end) as bigint) as top{n}_chars"
        for n in tops
    )
    dup_sums = ", ".join(
        f"cast(sum(case when c.n = {n} then length(t.tok) else 0 end) "
        f"as bigint) as dup{n}_chars"
        for n in dups
    )
    fin_cols = ", ".join(
        [f"coalesce(top{n}_chars, 0) as top{n}_chars" for n in tops]
        + [f"coalesce(dup{n}_chars, 0) as dup{n}_chars" for n in dups]
    )
    rules = [
        f"100 * top{n}_chars <= {p} * tok_chars as r_top{n}"
        for n, p in sorted(GOPHER_TOP_NGRAM_PCT.items())
    ] + [
        f"100 * dup{n}_chars <= {p} * tok_chars as r_dup{n}"
        for n, p in sorted(GOPHER_DUP_NGRAM_PCT.items())
    ]
    keep = " and ".join(r.split(" as ")[0] for r in rules)
    return f"""
with tk as (select doc_id, {_RT} as t from {src}),
tc as (select doc_id,
              cast(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
                   as bigint) as tok_chars from tk),
tp as (select doc_id, unnest(t) as tok,
              cast(unnest(range(0, len(t))) as int) as pos from tk),
ld as (select doc_id, pos, tok, {lead_cols} from tp),
ge as ({ge}),
cnt as (select *, count(*) over (partition by doc_id, n, gram) as cnt
        from ge),
topg as (select doc_id, n, gram, max(cnt) as c from cnt
         where n in ({', '.join(map(str, tops))}) group by doc_id, n, gram),
best as (select *, row_number() over (partition by doc_id, n
                                      order by c desc, gram asc) as rn
         from topg),
topc as (select doc_id, {top_sums} from best where rn = 1 group by doc_id),
cov as (select distinct doc_id, n, pos + d as tokpos
        from cnt cross join (select unnest(range(0, 10)) as d)
        where n >= {dups[0]} and cnt >= 2 and d < n),
dupc as (select c.doc_id, {dup_sums}
         from cov c join tp t on c.doc_id = t.doc_id and c.tokpos = t.pos
         group by c.doc_id),
fin as (select tc.doc_id, tc.tok_chars, {fin_cols}
        from tc left join topc using (doc_id) left join dupc using (doc_id))
select doc_id, tok_chars,
       {', '.join(f'top{n}_chars' for n in tops)},
       {', '.join(f'dup{n}_chars' for n in dups)},
       {', '.join(rules)},
       {keep} as keep
from fin
"""


def _minhash_sql(
    threshold: float = 0.0,
    k: int = 16,
    bands: int = 8,
    max_bucket: int = 1000,
    src: str = "documents",
) -> str:
    rows = k // bands
    band_key = " || '|' || ".join(
        f"cast(sig[band * {rows} + {r + 1}] as varchar)" for r in range(rows)
    )
    return f"""
with toks as (select doc_id, {_NT} as t from {src}),
sh as (select doc_id,
              list_distinct(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) as shingles
       from toks where len(t) >= 3),
-- Kirsch–Mitzenmacher basis: ONE md5 per shingle, split into two 60-bit
-- halves (same 0x-cast as the simhash twin) — mirrors text.minhash_base
mh as (select doc_id, shingles,
              list_transform(list_transform(shingles, s -> md5(s)),
                  m -> struct_pack(
                      h1 := cast(('0x' || substr(m, 1, 15)) as bigint)
                            % {_MH_P},
                      h2 := cast(('0x' || substr(m, 17, 15)) as bigint)
                            % {_MH_P - 1} + 1)) as mh
       from sh),
sig as (select doc_id,
               list_transform(range(0, {k}),
                   h -> list_min(list_transform(mh,
                        x -> (x.h1 + h * x.h2) % {_MH_P}))) as sig
        from mh),
banded as (select doc_id, unnest(range(0, {bands})) as band, sig from sig),
bk as (select doc_id, band, md5({band_key}) as band_key from banded),
-- mirror Spark's degenerate-bucket guard (dedup.py minhash_candidates:
-- buckets with 2..max_bucket members produce pairs, larger ones are dropped)
bksz as (select band, band_key, count(*) as n
         from bk group by band, band_key),
bkok as (select bk.doc_id, bk.band, bk.band_key
         from bk join bksz using (band, band_key)
         where bksz.n between 2 and {max_bucket}),
pairs as (select distinct x.doc_id as a, y.doc_id as b
          from bkok x join bkok y
            on x.band = y.band and x.band_key = y.band_key
          where x.doc_id < y.doc_id),
shingle as (select doc_id, unnest(shingles) as shingle from sh),
sizes as (select doc_id, count(*) as n_sh from shingle group by doc_id),
inter as (select p.a, p.b, count(*) as inter
          from pairs p
          join shingle s1 on s1.doc_id = p.a
          join shingle s2 on s2.doc_id = p.b and s2.shingle = s1.shingle
          group by p.a, p.b)
select i.a, i.b, i.inter,
       sa.n_sh as na, sb.n_sh as nb,
       round(cast(i.inter as double) / (sa.n_sh + sb.n_sh - i.inter), 6) as jaccard
from inter i
join sizes sa on sa.doc_id = i.a
join sizes sb on sb.doc_id = i.b
where round(cast(i.inter as double) / (sa.n_sh + sb.n_sh - i.inter), 6) >= {threshold}
"""


def _chunk_dedup_sql(chunk: int = 16, max_docs: int = 2) -> str:
    """Twin of repeated_chunk_filter: window = pos // chunk over the
    normalized token stream; windows in >max_docs distinct docs dropped;
    string_agg ORDER BY mirrors Spark's array_sort(collect_list(struct))
    exactly (pos / cid are unique within their groups)."""
    return f"""
with t as (select doc_id, {_NT} as toks from documents),
tok as (select doc_id, unnest(toks) as tok,
               unnest(range(0, len(toks))) as pos from t),
chunks as (select doc_id, pos // {chunk} as cid,
                  string_agg(tok, ' ' order by pos) as chunk_text
           from tok group by doc_id, pos // {chunk}),
counts as (select chunk_text, count(distinct doc_id) as n_docs
           from chunks group by chunk_text),
flagged as (select c.doc_id, c.cid, c.chunk_text, ct.n_docs
            from chunks c join counts ct using (chunk_text))
select doc_id,
       coalesce(string_agg(case when n_docs <= {max_docs} then chunk_text end,
                           ' ' order by cid), '') as clean_text,
       count(*) as n_chunks,
       cast(sum(case when n_docs <= {max_docs} then 1 else 0 end) as bigint)
           as n_kept
from flagged group by doc_id
"""


def _simhash_sql() -> str:
    """simhash twin (also the signature CTE inside simhash_neardup):
    60-bit relational bit votes, identical md5 token hashing."""
    return f"""
with tok as (select doc_id, unnest({_NT}) as tok from documents),
h as (select doc_id, cast(('0x' || substr(md5(tok), 1, 15)) as bigint) as h from tok),
bits as (select doc_id, unnest(range(0, 60)) as bit, h from h),
votes as (select doc_id, bit,
                 sum(case when (h >> cast(bit as int)) & 1 = 1 then 1 else -1 end) as v
          from bits group by doc_id, bit)
select doc_id,
       cast(sum(case when v > 0 then (cast(1 as bigint) << cast(bit as int)) else cast(0 as bigint) end) as bigint) as simhash
from votes group by doc_id
"""


def _doc_repetition_sql(src: str = "documents") -> str:
    """doc_repetition twin over any documents-shaped table (also the rep
    stage inside web_curate): raw n-grams via 1-indexed range transforms,
    exact integer ratios rounded identically, same >=3-token gate."""
    return f"""
with t as (select doc_id, {_NT} as toks from {src}),
base as (select doc_id,
                cast(len(toks) as bigint) as n_tokens,
                list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) as tri,
                list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1]) as bi
         from t where len(toks) >= 3),
tstat as (select doc_id, n_tokens,
                 round(cast(len(tri) - len(list_distinct(tri)) as double)
                       / len(tri), 6) as dup_trigram_frac,
                 bi from base),
grams as (select doc_id, n_tokens, dup_trigram_frac, unnest(bi) as bigram
          from tstat),
per as (select doc_id, n_tokens, dup_trigram_frac, bigram, count(*) as c
        from grams group by doc_id, n_tokens, dup_trigram_frac, bigram)
select doc_id, n_tokens, dup_trigram_frac,
       round(cast(max(c) as double) / sum(c), 6) as top_bigram_frac,
       (round(cast(max(c) as double) / sum(c), 6) > 0.20
        or dup_trigram_frac > 0.30) as flagged
from per group by doc_id, n_tokens, dup_trigram_frac
"""


def _drift_ctes() -> str:
    """Shared CTEs for the drift family (quality.py _drift_counts):
    even/odd snapshot split, full-outer word counts, per-word quantized
    JSD contributions — the one double ratio + ln mirrored
    token-for-token, everything downstream bigint."""
    return f"""
ta as (select unnest({_NT}) as word from documents where doc_id % 2 = 0),
tb as (select unnest({_NT}) as word from documents where doc_id % 2 = 1),
cta as (select word, cast(count(*) as bigint) as cnt_a from ta group by word),
ctb as (select word, cast(count(*) as bigint) as cnt_b from tb group by word),
na as (select cast(coalesce(sum(cnt_a), 0) as bigint) as n from cta),
nb as (select cast(coalesce(sum(cnt_b), 0) as bigint) as n from ctb),
dj as (select word,
              coalesce(cnt_a, 0) as cnt_a, coalesce(cnt_b, 0) as cnt_b,
              coalesce(cnt_a, 0) * (select n from nb) as ca_nb,
              coalesce(cnt_b, 0) * (select n from na) as cb_na
       from cta full outer join ctb using (word)),
dc as (select word, cnt_a, cnt_b,
              case when cnt_a > 0
                   then cnt_a * cast(round(ln(2.0 * cast(ca_nb as double)
                        / cast(ca_nb + cb_na as double)) * 1e6, 0) as bigint)
                   else 0 end as contrib_a,
              case when cnt_b > 0
                   then cnt_b * cast(round(ln(2.0 * cast(cb_na as double)
                        / cast(ca_nb + cb_na as double)) * 1e6, 0) as bigint)
                   else 0 end as contrib_b
       from dj)
"""


def _vocab_drift_sql(top_k: int = 200) -> str:
    return f"""
with {_drift_ctes()}
select word, cnt_a, cnt_b,
       contrib_a * (select n from nb) + contrib_b * (select n from na)
           as drift
from dc order by drift desc, word asc limit {top_k}
"""


def _corpus_jsd_sql() -> str:
    return f"""
with {_drift_ctes()}
select cast(sum(contrib_a * (select n from nb)
                + contrib_b * (select n from na)) as bigint)
           // (2 * (select n from na) * (select n from nb)) as jsd_micro,
       cast(count(*) as bigint) as vocab_union,
       cast(sum(case when cnt_a > 0 then 1 else 0 end) as bigint) as vocab_a,
       cast(sum(case when cnt_b > 0 then 1 else 0 end) as bigint) as vocab_b,
       (select n from na) as tokens_a,
       (select n from nb) as tokens_b
from dc
"""


def _lm_quality_sql() -> str:
    """lm_quality twin (also the scored CTE inside ccnet_buckets): the
    only float step is the per-distinct-token ln, quantized to integer
    micro-nats exactly like the Spark plan; doc scores are bigint sums +
    exact integer ratios (sum() is HUGEINT in DuckDB — cast to bigint)."""
    return f"""
with reftok as (select unnest({_NT}) as tok from documents
                where source = 'src2'),
vocab as (select tok, count(*) as c from reftok group by tok),
stats as (select (select count(*) from reftok)
                 + (select count(*) from vocab) + 1 as denom),
lp as (select tok,
              cast(round(-ln((c + 1) / (select denom from stats)) * 1e6, 0)
                   as bigint) as lp
       from vocab),
tok as (select doc_id, unnest({_NT}) as tok from documents
        where source <> 'src2'),
j as (select t.doc_id, t.tok, l.lp from tok t left join lp l using (tok)),
agg as (select doc_id, count(*) as n_tokens,
               cast(sum(case when lp is null then 1 else 0 end) as bigint)
                   as n_oov,
               cast(sum(coalesce(lp,
                   cast(round(-ln(1 / (select denom from stats)) * 1e6, 0)
                        as bigint))) as bigint) as nll_micro
        from j group by doc_id)
select doc_id, n_tokens, n_oov, nll_micro,
       round(nll_micro / n_tokens / 1e6, 6) as avg_nll,
       (round(nll_micro / n_tokens / 1e6, 6) > 9.0) as flagged
from agg
"""


def _substring_scrub_sql(window: int = 8, min_dup_docs: int = 2) -> str:
    """Twin of duplicated_substring_scrub: stride-1 window md5s over the
    normalized token stream, windows in ≥ min_dup_docs distinct docs mark
    every position they cover, survivors string_agg ORDER BY pos."""
    return f"""
with t as (select doc_id, {_NT} as toks from documents),
tk as (select doc_id, toks, len(toks) as n from t where len(toks) >= 1),
wh as (select doc_id,
              unnest(range(0, n - {window} + 1)) as st,
              unnest(list_transform(range(1, n - {window} + 2),
                  i -> md5(array_to_string(toks[i:i+{window}-1], ' ')))) as wh
       from tk where n >= {window}),
dup as (select wh from wh group by wh
        having count(distinct doc_id) >= {min_dup_docs}),
cov as (select distinct s.doc_id, s.st + u.d as pos
        from (select w.doc_id, w.st from wh w join dup using (wh)) s
        cross join (select unnest(range(0, {window})) as d) u),
tok as (select doc_id, unnest(toks) as tok,
               unnest(range(0, n)) as pos from tk),
kept as (select t.doc_id, t.pos, t.tok
         from tok t left join cov c
           on c.doc_id = t.doc_id and c.pos = t.pos
         where c.doc_id is null),
agg as (select doc_id, string_agg(tok, ' ' order by pos) as clean_text,
               count(*) as n_kept
        from kept group by doc_id)
select tk.doc_id,
       coalesce(a.clean_text, '') as clean_text,
       cast(tk.n as bigint) as n_tokens,
       cast(tk.n - coalesce(a.n_kept, 0) as bigint) as n_dup_tokens
from tk left join agg a using (doc_id)
"""


def _incremental_minhash_sql(
    new_pred: str = "source = 'src0'",
    threshold: float = 0.0,
    k: int = 16,
    bands: int = 8,
    max_bucket: int = 1000,
) -> str:
    """Twin of incremental_minhash_dedup: same banded-MinHash scheme as
    _minhash_sql, but candidate pairs come only from NEW×CORPUS band-key
    collisions, with the degenerate-bucket guard applied to the corpus
    side of each key."""
    rows = k // bands
    band_key = " || '|' || ".join(
        f"cast(sig[band * {rows} + {r + 1}] as varchar)" for r in range(rows)
    )
    return f"""
with toks as (select doc_id, source, {_NT} as t from documents),
sh as (select doc_id, source,
              list_distinct(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) as shingles
       from toks where len(t) >= 3),
mh as (select doc_id, source, shingles,
              list_transform(list_transform(shingles, s -> md5(s)),
                  m -> struct_pack(
                      h1 := cast(('0x' || substr(m, 1, 15)) as bigint)
                            % {_MH_P},
                      h2 := cast(('0x' || substr(m, 17, 15)) as bigint)
                            % {_MH_P - 1} + 1)) as mh
       from sh),
sig as (select doc_id, source,
               list_transform(range(0, {k}),
                   h -> list_min(list_transform(mh,
                        x -> (x.h1 + h * x.h2) % {_MH_P}))) as sig
        from mh),
banded as (select doc_id, source, unnest(range(0, {bands})) as band, sig
           from sig),
bk as (select doc_id, source, band, md5({band_key}) as band_key from banded),
newb as (select doc_id, band, band_key from bk where {new_pred}),
corp as (select doc_id, band, band_key from bk where not ({new_pred})),
csz as (select band, band_key, count(*) as n
        from corp group by band, band_key),
cok as (select corp.doc_id, corp.band, corp.band_key
        from corp join csz using (band, band_key)
        where csz.n <= {max_bucket}),
pairs as (select distinct x.doc_id as a, y.doc_id as b
          from newb x join cok y
            on x.band = y.band and x.band_key = y.band_key
          where x.doc_id <> y.doc_id),
shingle as (select doc_id, unnest(shingles) as shingle from sh),
sizes as (select doc_id, count(*) as n_sh from shingle group by doc_id),
inter as (select p.a, p.b, count(*) as inter
          from pairs p
          join shingle s1 on s1.doc_id = p.a
          join shingle s2 on s2.doc_id = p.b and s2.shingle = s1.shingle
          group by p.a, p.b)
select i.a, i.b, i.inter,
       sa.n_sh as na, sb.n_sh as nb,
       round(cast(i.inter as double) / (sa.n_sh + sb.n_sh - i.inter), 6) as jaccard
from inter i
join sizes sa on sa.doc_id = i.a
join sizes sb on sb.doc_id = i.b
where round(cast(i.inter as double) / (sa.n_sh + sb.n_sh - i.inter), 6) >= {threshold}
"""


def _ngram_jaccard_sql(threshold: float = 0.0) -> str:
    return f"""
with toks as (select doc_id, lang, source, {_NT} as t from documents),
sh as (select doc_id, lang, source,
              list_distinct(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) as shingles
       from toks where len(t) >= 3),
pairs as (select x.doc_id as a, y.doc_id as b
          from sh x join sh y on x.lang = y.lang and x.source = y.source
          where x.doc_id < y.doc_id),
shingle as (select doc_id, unnest(shingles) as shingle from sh),
sizes as (select doc_id, count(*) as n_sh from shingle group by doc_id),
inter as (select p.a, p.b, count(*) as inter
          from pairs p
          join shingle s1 on s1.doc_id = p.a
          join shingle s2 on s2.doc_id = p.b and s2.shingle = s1.shingle
          group by p.a, p.b)
select i.a, i.b, i.inter,
       sa.n_sh as na, sb.n_sh as nb,
       round(cast(i.inter as double) / (sa.n_sh + sb.n_sh - i.inter), 6) as jaccard
from inter i
join sizes sa on sa.doc_id = i.a
join sizes sb on sb.doc_id = i.b
where round(cast(i.inter as double) / (sa.n_sh + sb.n_sh - i.inter), 6) >= {threshold}
"""


def _html_spans_sql(min_text_len: int = 25, max_link_pct: int = 40) -> str:
    """Twin of operators/html.py html_spans, built from the SAME regex /
    entity / sentinel constants (pattern drift impossible, as with
    PII_RULES).  Same shape as the Spark plan: chrome-strip chain →
    regexp_split_to_array → list_transform struct staging → list_filter →
    parallel-unnest with range() for the dense offsets.  DuckDB deltas:
    'g' flag on every replace (RE2 replaces first match by default),
    ``\\1`` instead of ``$1`` group refs, and "offset" quoted (keyword)."""
    from ocr_spark.operators import html as H

    def sq(p: str) -> str:
        return p.replace("'", "''")

    def norm(v: str) -> str:
        out = f"regexp_replace({v}, '{sq(H.TAG_RE)}', ' ', 'g')"
        for ent, rep in H.ENTITY_RULES:
            out = f"replace({out}, '{sq(ent)}', '{sq(rep)}')"
        return f"trim(regexp_replace({out}, '{sq(H.WS_RE)}', ' ', 'g'))"

    cleaned = f"regexp_replace(html, '{sq(H.COMMENT_RE)}', ' ', 'g')"
    for tag in H.DROP_CONTAINER_TAGS:
        cleaned = (
            f"regexp_replace({cleaned}, '{sq(H.container_re(tag))}', ' ', 'g')"
        )
    for img_re in (H.IMG_DQ_RE, H.IMG_SQ_RE):
        cleaned = (
            f"regexp_replace({cleaned}, '{sq(img_re)}', "
            f"'<br>{H.MEDIA_SENTINEL}\\1<br>', 'g')"
        )
    cleaned = f"regexp_replace({cleaned}, '{sq(H.IMG_BARE_RE)}', ' ', 'g')"
    sent, pos1 = H.MEDIA_SENTINEL, len(H.MEDIA_SENTINEL) + 1
    is_media = f"starts_with(s.bt, '{sent}')"
    media_ref = f"trim(substring(s.bt, {pos1}, 1048576))"
    return f"""
with synth as (select doc_id, {_HTML_SYNTH} as html from documents),
cleaned as (select doc_id, {cleaned} as c from synth),
blk as (select doc_id,
               regexp_split_to_array(c, '{sq(H.BLOCK_SPLIT_RE)}') as blocks
        from cleaned),
pre as (select doc_id, list_transform(blocks, b -> struct_pack(
            bt := trim(b),
            txt := {norm('b')},
            link_len := coalesce(list_sum(list_transform(
                regexp_extract_all(b, '{sq(H.ANCHOR_RE)}', 1),
                x -> length({norm('x')}))), 0)
        )) as pre from blk),
spans as (select doc_id, list_filter(list_transform(pre, s -> struct_pack(
            kind := case when {is_media} then 'media_ref' else 'text' end,
            text := case when {is_media} then '' else s.txt end,
            media_ref := case when {is_media} then {media_ref} else '' end,
            keep := case when {is_media} then {media_ref} <> ''
                         else length(s.txt) >= {min_text_len}
                              and s.link_len * 100
                                  <= length(s.txt) * {max_link_pct} end
          )), s -> s.keep) as spans from pre),
sel as (select doc_id,
               cast(unnest(range(0, len(spans))) as int) as "offset",
               unnest(spans) as s
        from spans)
select doc_id, "offset", s.kind as kind, s.text as text,
       s.media_ref as media_ref
from sel
"""


_ORACLES: dict[str, str] = {
    "span_extract": f"""
with t as (select doc_id, {_RT} as toks from documents),
e as (select doc_id, toks, unnest(range(1, len(toks) + 1)) as i from t)
select doc_id, cast(i - 1 as int) as offset, 'text' as kind, toks[i] as text
from e
""",
    "word_index": f"""
select doc_id, word, count(*) as cnt
from (select doc_id, unnest({_NT}) as word from documents)
group by doc_id, word
""",
    "word_count": f"""
select doc_id, cast(len({_RT}) as bigint) as n_words,
       cast(length(text) as bigint) as n_chars_m
from documents
""",
    "vocab_topk": f"""
select word, count(*) as cnt
from (select unnest({_NT}) as word from documents)
group by word
order by cnt desc, word asc
limit 100
""",
    "dict_semi_join": f"""
with corpus as (select distinct unnest(string_split(lower(p_name), ' ')) as word from part),
words as (select doc_id, unnest({_NT}) as word from documents)
select w.doc_id, count(*) as dict_hits
from words w join corpus c on w.word = c.word
group by w.doc_id
""",
    "doc_fingerprint": f"""
select doc_id, md5(array_to_string({_NT}, ' ')) as fp,
       cast(len({_NT}) as bigint) as n_words
from documents
""",
    "lang_id": _lang_sql(),
    "quality_score": f"""
with t as (select doc_id, length(text) as n_chars_m, {_NT} as toks from documents),
s as (select doc_id, n_chars_m,
             cast(len(toks) as bigint) as n_tokens,
             cast(len(list_filter(toks, t -> t in ({', '.join(f"'{w}'" for w in T.STOPWORDS)}))) as bigint) as n_stop,
             cast(list_sum(list_transform(toks, t -> length(t))) as bigint) as sum_len
      from t where len(toks) > 0)
select doc_id, cast(n_chars_m as bigint) as n_chars_m, n_tokens, n_stop,
       round(cast(sum_len as double) / n_tokens, 4) as avg_token_len,
       round(cast(n_stop as double) / n_tokens, 4) as stop_ratio
from s
""",
    "bpe_token_count": f"""
select doc_id, cast(len(regexp_extract_all(text, '{T.BPE_TOKEN_RE}')) as bigint) as n_bpe
from documents
""",
    "dedup_exact": f"""
with fp as (select doc_id, md5(array_to_string({_NT}, ' ')) as fp from documents),
g as (select fp, min(doc_id) as rep_doc_id, count(*) as group_size from fp group by fp)
select f.doc_id, f.fp, g.rep_doc_id, g.group_size
from fp f join g on f.fp = g.fp
""",
    "tfidf_top": f"""
with words as (select doc_id, unnest({_NT}) as word from documents),
tf as (select doc_id, word, count(*) as tf from words group by doc_id, word),
dfq as (select word, count(*) as df from (select distinct doc_id, word from words) group by word),
n as (select count(*) as n_docs from documents),
scored as (select t.doc_id, t.word, t.tf, d.df,
                  round(cast(t.tf as double) * (select n_docs from n) / d.df, 6) as score
           from tf t join dfq d on t.word = d.word),
ranked as (select *, row_number() over (partition by doc_id
                                        order by score desc, word asc) as rk
           from scored)
select doc_id, cast(rk as int) as rk, word, tf, df, score
from ranked where rk <= 3
""",
    "price_quantiles": """
select o_orderstatus,
       round(quantile_cont(cast(cast(o_totalprice as decimal(18,2)) as double), 0.25), 4) as p25,
       round(quantile_cont(cast(cast(o_totalprice as decimal(18,2)) as double), 0.5), 4) as p50,
       round(quantile_cont(cast(cast(o_totalprice as decimal(18,2)) as double), 0.75), 4) as p75,
       count(*) as n
from orders group by o_orderstatus order by o_orderstatus
""",
    "events_json": """
select event_type, count(*) as n,
       cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) as sum_k,
       cast(min(cast(json_extract_string(props, '$.k') as bigint)) as bigint) as min_k,
       cast(max(cast(json_extract_string(props, '$.k') as bigint)) as bigint) as max_k
from events group by event_type order by event_type
""",
    "doclen_histogram": """
select cast(floor(n_chars / 100) as bigint) as bucket, count(*) as n_docs
from documents group by bucket order by bucket
""",
    "distinct_stats": f"""
with w as (select source, lang, doc_id, unnest({_NT}) as word from documents)
select source,
       cast(count(distinct word) as bigint) as n_vocab,
       cast(count(distinct lang) as bigint) as n_langs,
       cast(count(distinct doc_id) as bigint) as n_docs,
       cast(count(*) as bigint) as n_tokens
from w group by source order by source
""",
    # "sample_stratified" / "corpus_mix" are filled below (_sampling_sqls)
    "inverted_index": f"""
with postings as (select distinct doc_id, unnest({_NT}) as word from documents)
select word, array_to_string(list_sort(list(doc_id)), ' ') as postings,
       cast(count(*) as bigint) as df
from postings group by word
""",
    # postings_codec: same tokenization; the vbyte CASE is generated by
    # the operator's own vbyte_case_sql; DuckDB's list_transform index is
    # 1-based (Spark's transform is 0-based) so the first-element test
    # differs in spelling, not semantics.
    "postings_codec": f"""
with posts as (select distinct doc_id, doc_id // 128 as bucket,
                      unnest({_NT}) as word from documents),
tb as (select word, bucket, list_sort(list(doc_id)) as ds
       from posts group by word, bucket),
g as (select word, len(ds) as n,
             list_transform(ds, (d, i) -> case when i = 1 then d + 1
                 else d - ds[i-1] end) as gaps
      from tb),
b as (select word, n,
             cast(list_sum(list_transform(gaps,
                 g -> {_vbyte_case("g")})) as bigint) as blk_bytes
      from g)
select word, cast(sum(n) as bigint) as df,
       cast(count(*) as bigint) as n_blocks,
       cast(sum(n) * 8 as bigint) as raw_bytes,
       cast(sum(blk_bytes) as bigint) as vbyte_bytes
from b group by word
""",
    "export_csv": f"""
with t as (select doc_id, {_NT} as toks from documents),
e as (select doc_id, toks, unnest(range(1, len(toks) + 1)) as i from t),
w as (select doc_id, toks[i] as word,
             cast(floor((i - 1) / 100) as bigint) as page
      from e),
idx as (select doc_id, word, count(*) as cnt,
               list_sort(list(distinct page)) as pages
        from w group by doc_id, word),
rows as (select doc_id,
                cast(row_number() over (partition by doc_id
                                        order by word || word) + 1 as bigint)
                    as line_no,
                word || ', ' || cast(cnt as varchar) || ', "' ||
                array_to_string(list_transform(pages, p -> cast(p as varchar)), ', ')
                || '"' as value
         from idx)
select doc_id, cast(0 as bigint) as line_no,
       'Palavra, Ocorrências, Páginas' as value from (select distinct doc_id from documents)
union all
select doc_id, cast(1 as bigint) as line_no, '' as value
from (select distinct doc_id from documents)
union all
select * from rows
""",
    "export_txt_delim": f"""
with t as (select doc_id, {_NT} as toks from documents),
e as (select doc_id, toks, unnest(range(1, len(toks) + 1)) as i from t),
w as (select doc_id, toks[i] as word,
             cast(floor((i - 1) / 100) as bigint) as page, i
      from e),
pages as (select doc_id, page,
                 array_to_string(list(word order by i), ' ') as page_text
          from w group by doc_id, page),
chunks as (select doc_id, page,
                  printf('----- PAGE %04d -----', page + 1) || chr(10) || chr(10)
                  || page_text || chr(10) || chr(10) as chunk
           from pages)
select doc_id,
       string_agg(chunk, '' order by page) as txt,
       cast(length(string_agg(chunk, '' order by page)) as bigint) as n_chars_t
from chunks group by doc_id
""",
    "filename_index": """
with f as (select doc_id,
                  'Files/' || source || '/Doc_' || cast(doc_id as varchar)
                  || '.pdf' as fname
           from documents),
tok as (select doc_id,
               unnest(list_filter(
                   regexp_split_to_array(lower(fname), '\\W|_'),
                   t -> t <> '')) as token
        from f)
select doc_id, token, count(*) as cnt
from tok group by doc_id, token
""",
    "dict_check": f"""
with corpus as (select distinct unnest(string_split(lower(p_name), ' ')) as cw from part),
sel as (select cw from corpus where cw < 'n'),
words as (select distinct unnest({_NT}) as word from documents)
select word, (s.cw is not null) as in_dict
from words w left join sel s on w.word = s.cw
order by word
""",
    "multi_match": f"""
with terms(term) as (values ('{_MM_TERMS[0]}'), ('{_MM_TERMS[1]}'), ('{_MM_TERMS[2]}')),
toks as (select doc_id, unnest({_analyzer_sql()}) as tok from documents),
st as (select doc_id, sum(case when tok = term then 2 else 1 end) as s_text
       from toks join terms on levenshtein(tok, term) <= 1 group by doc_id),
sn as (select doc_id, sum(case when source = term then 2 else 1 end) as s_name
       from documents join terms on levenshtein(source, term) <= 1
       group by doc_id)
select d.doc_id,
       cast(coalesce(st.s_text, 0) as bigint) as s_text,
       cast(coalesce(sn.s_name, 0) as bigint) as s_name,
       cast(greatest(coalesce(st.s_text, 0), coalesce(sn.s_name, 0)) as bigint) as score
from documents d
left join st on d.doc_id = st.doc_id
left join sn on d.doc_id = sn.doc_id
where greatest(coalesce(st.s_text, 0), coalesce(sn.s_name, 0)) > 0
order by score desc, d.doc_id asc
limit 1000
""",
    # bm25_rank twin (operators/search.py): idf quantized to micro-nats
    # (the lm_quality ln idiom), then every per-(doc,term) contribution is
    # an exact integer floor division — hugeint for the product, '//' ==
    # Spark's 'div' for positive operands — and the doc score an exact
    # bigint sum; k1=5/4, b=3/4 make the saturation term rational
    "bm25_rank": f"""
with corpus as (select doc_id, cast(len(t) as bigint) as dl, t
                from (select doc_id, {_NT} as t from documents)
                where len(t) > 0),
stats as (select cast(count(*) as bigint) as d,
                 cast(sum(dl) as bigint) as tt from corpus),
tf as (select doc_id, dl, term, cast(count(*) as bigint) as tf
       from (select doc_id, dl, unnest(t) as term from corpus)
       where term in ({_BM25_IN})
       group by doc_id, dl, term),
idf as (select term,
               cast(round(ln(1.0 + ((select d from stats) - df + 0.5)
                                   / (df + 0.5)) * 1e6, 0) as bigint)
                   as idf_micro
        from (select term, cast(count(*) as bigint) as df
              from tf group by term)),
contrib as (select doc_id,
       cast((cast(idf_micro as hugeint)
             * (36 * tf * (select tt from stats)))
            // (16 * (select tt from stats) * tf
                + 5 * (select tt from stats)
                + 15 * dl * (select d from stats)) as bigint) as c_micro
    from tf join idf using (term)),
agg as (select doc_id, cast(count(*) as bigint) as n_hit_terms,
               cast(sum(c_micro) as bigint) as score_micro
        from contrib group by doc_id)
select doc_id, n_hit_terms, score_micro,
       round(score_micro / 1e6, 6) as score
from agg order by score_micro desc, doc_id limit 100
""",
    # kwic_snippets: same tokenization; DuckDB slices are 1-based
    # inclusive (Spark slice is 1-based start + length) — same window.
    "kwic_snippets": f"""
with t as (select doc_id, toks
           from (select doc_id, {_NT} as toks from documents)
           where len(toks) > 0),
e as (select doc_id, toks, unnest(toks) as term,
             cast(unnest(range(0, len(toks))) as int) as pos from t)
select doc_id, pos, term,
       array_to_string(
           toks[greatest(pos - 3, 0) + 1 :
                least(pos + 3, len(toks) - 1) + 1], ' ') as snippet
from e
where term in ({_BM25_IN})
""",
    # compaction_plan: same manifest expressions and 8 MB target; Spark
    # div ≡ DuckDB // on the non-negative prefix sums.
    "compaction_plan": f"""
with mf as (select {_MANIFEST_DIR} as dir, {_MANIFEST_PATH} as path,
                   {_MANIFEST_BYTES} as bytes from documents),
small as (select dir, path, bytes,
                 (sum(bytes) over (partition by dir
                      order by bytes desc, path
                      rows between unbounded preceding and current row)
                  - bytes) // {_COMPACT_TARGET} as job
          from mf where bytes < {_COMPACT_TARGET}),
u as (select dir, path, bytes, cast(job as bigint) as job from small
      union all
      select dir, path, bytes, cast(-1 as bigint) as job
      from mf where bytes >= {_COMPACT_TARGET}),
st as (select *, count(*) over (partition by dir, job) as n,
              sum(bytes) over (partition by dir, job) as jb
       from u)
select dir, path, bytes,
       cast(case when job >= 0 and n > 1 then job else -1 end as bigint)
           as job,
       cast(case when job >= 0 and n > 1 then n else 1 end as bigint)
           as job_files,
       cast(case when job >= 0 and n > 1 then jb else bytes end as bigint)
           as job_bytes
from st
""",
    # more_like_this: seed = min(doc_id); phase-1 term selection (corpus
    # df, tf·idf top-8, term tie-break; max_doc_freq off per ES default)
    # feeds the same BM25 body as bm25_rank; seed excluded from results.
    "more_like_this": f"""
with corpus as (select doc_id, cast(len(t) as bigint) as dl, t
                from (select doc_id, {_NT} as t from documents)
                where len(t) > 0),
stats as (select cast(count(*) as bigint) as d,
                 cast(sum(dl) as bigint) as tt from corpus),
sd as (select min(doc_id) as sid from documents),
stf as (select term, cast(count(*) as bigint) as tf_seed
        from (select unnest(t) as term from corpus
              where doc_id = (select sid from sd))
        group by term),
dfq as (select term, cast(count(*) as bigint) as df
        from (select distinct doc_id, term
              from (select doc_id, unnest(t) as term from corpus)
              where term in (select term from stf))
        group by term),
selt as (select term from (
          select s.term,
                 cast(round(ln(1.0 + ((select d from stats) - df + 0.5)
                                     / (df + 0.5)) * 1e6, 0) as bigint)
                     * tf_seed as sc
          from stf s join dfq using (term))
         order by sc desc, term limit 8),
tf as (select doc_id, dl, term, cast(count(*) as bigint) as tf
       from (select doc_id, dl, unnest(t) as term from corpus)
       where term in (select term from selt)
       group by doc_id, dl, term),
idf as (select term,
               cast(round(ln(1.0 + ((select d from stats) - df + 0.5)
                                   / (df + 0.5)) * 1e6, 0) as bigint)
                   as idf_micro
        from (select term, cast(count(*) as bigint) as df
              from tf group by term)),
contrib as (select doc_id,
       cast((cast(idf_micro as hugeint)
             * (36 * tf * (select tt from stats)))
            // (16 * (select tt from stats) * tf
                + 5 * (select tt from stats)
                + 15 * dl * (select d from stats)) as bigint) as c_micro
    from tf join idf using (term)),
agg as (select doc_id, cast(count(*) as bigint) as n_hit_terms,
               cast(sum(c_micro) as bigint) as score_micro
        from contrib group by doc_id)
select doc_id, n_hit_terms, score_micro,
       round(score_micro / 1e6, 6) as score
from agg where doc_id <> (select sid from sd)
order by score_micro desc, doc_id limit 50
""",
    "word_pages_raw": f"""
with t as (select doc_id, {_RT} as toks from documents),
e as (select doc_id, toks, unnest(range(1, len(toks) + 1)) as i from t),
w as (select doc_id, toks[i] as word,
             cast(floor((i - 1) / 100) as bigint) as page, i
      from e)
select doc_id, word,
       array_to_string(list(cast(page as varchar) order by i), ' ') as pages,
       count(*) as n_occ, true as syntax
from w group by doc_id, word
""",
    "dedup_minhash_lsh": _minhash_sql(0.0),
    "chunk_dedup": _chunk_dedup_sql(16, 2),
    # doc_repetition twin: raw n-grams via 1-indexed range transforms;
    # exact integer ratios rounded identically; same >=3-token gate
    "doc_repetition": _doc_repetition_sql(),
    "vocab_drift": _vocab_drift_sql(),
    "corpus_jsd": _corpus_jsd_sql(),
    "dedup_incremental": _incremental_minhash_sql(),
    "substring_scrub": _substring_scrub_sql(8, 2),
    "html_extract": _html_spans_sql(),
    # warc_html: the WARC+HTTP round-trip must be invisible — its oracle
    # IS the plain html_extract twin.
    "warc_html": _html_spans_sql(),
    # rag_chunks twin: same chunk grid (starts 0, 12, 24, … while < n)
    # and the pack_sequences slice idiom (DuckDB list slice is 1-based
    # inclusive and clamps via least())
    "rag_chunks": f"""
with t as (select doc_id, {_NT} as t from documents),
ne as (select doc_id, t, len(t) as n from t where len(t) > 0),
st as (select doc_id, t, n,
              unnest(range(0, cast(floor((n - 1) / 12) as bigint) * 12 + 1,
                           12)) as s
       from ne)
select doc_id,
       s // 12 as chunk_id,
       cast(len(t[cast(s + 1 as bigint) : cast(least(s + 16, n) as bigint)])
            as bigint) as n_tokens,
       array_to_string(
           t[cast(s + 1 as bigint) : cast(least(s + 16, n) as bigint)],
           ' ') as text
from st
""",
    # lm_quality twin: the only float step is the per-distinct-token ln,
    # quantized to integer micro-nats exactly like the Spark plan; doc
    # scores are bigint sums + exact integer ratios (sum() is HUGEINT in
    # DuckDB — cast back to bigint)
    "lm_quality": _lm_quality_sql(),
    # nb_quality twin (operators/classifier.py): multinomial NB, lang='en'
    # positives vs the rest; per-token deltas are differences of two
    # INDIVIDUALLY-quantized micro-nat costs (quantize-then-subtract, the
    # exact order the Spark plan uses), doc scores bigint sums + one
    # quantized prior
    "nb_quality": f"""
with ptok as (select unnest({_NT}) as tok from documents where lang = 'en'),
ntok as (select unnest({_NT}) as tok from documents where lang <> 'en'),
cpt as (select tok, count(*) as cp from ptok group by tok),
cnt as (select tok, count(*) as cn from ntok group by tok),
vocab as (select tok, coalesce(cp, 0) as cp, coalesce(cn, 0) as cn
          from cpt full join cnt using (tok)),
stats as (select (select count(*) from ptok) + (select count(*) from vocab)
                 + 1 as denom_p,
                 (select count(*) from ntok) + (select count(*) from vocab)
                 + 1 as denom_n,
                 (select count(*) from documents where lang = 'en') as dp,
                 (select count(*) from documents where lang <> 'en') as dn),
deltas as (select tok,
       cast(round(-ln((cn + 1) / (select denom_n from stats)) * 1e6, 0)
            as bigint)
     - cast(round(-ln((cp + 1) / (select denom_p from stats)) * 1e6, 0)
            as bigint) as delta
       from vocab),
tok as (select doc_id, unnest({_NT}) as tok from documents),
j as (select t.doc_id, d.delta from tok t left join deltas d using (tok)),
agg as (select doc_id, count(*) as n_tokens,
               cast(sum(case when delta is null then 1 else 0 end) as bigint)
                   as n_oov,
               cast(sum(coalesce(delta,
                   cast(round(-ln(1 / (select denom_n from stats)) * 1e6, 0)
                        as bigint)
                 - cast(round(-ln(1 / (select denom_p from stats)) * 1e6, 0)
                        as bigint))) as bigint) as evidence
        from j group by doc_id),
prior as (select cast(round(ln(cast((select dp from stats) as double)
                  / (select dn from stats)) * 1e6, 0) as bigint) as p)
select doc_id, n_tokens, n_oov,
       cast(evidence + (select p from prior) as bigint) as logodds_micro,
       (evidence + (select p from prior)) > 0 as pred
from agg
""",
    # ccnet_buckets twin (operators/quality.py ccnet_partition): the
    # quartile cutoffs are recomputed engine-side (quantile_cont ≡ Spark
    # percentile, the price_quantiles precedent) — comparison-robust to
    # last-ulp interpolation differences because an interpolated cutoff
    # lies strictly between adjacent data values; the middle-bucket
    # sample replays keep_predicate's md5 threshold verbatim
    "ccnet_buckets": f"""
with scored as ({_lm_quality_sql()}),
cuts as (select quantile_cont(avg_nll, 0.25) as t1,
                quantile_cont(avg_nll, 0.75) as t2 from scored)
select doc_id, n_tokens, avg_nll,
       case when avg_nll <= (select t1 from cuts) then 'head'
            when avg_nll <= (select t2 from cuts) then 'middle'
            else 'tail' end as bucket,
       case when avg_nll <= (select t1 from cuts) then true
            when avg_nll <= (select t2 from cuts)
                 then substr(md5('42|' || cast(doc_id as varchar)), 1, 12)
                      < '800000000000'
            else false end as kept
from scored
""",
    # bigram_lm twin (operators/quality.py bigram_lm_quality): Stupid
    # Backoff — per-distinct-bigram ln(c2/c1) and per-distinct-word
    # smoothed-unigram ln quantized to micro-nats, ln(0.4) frozen as the
    # integer constant -916291 (quality.py BACKOFF_MICRO); doc scores are
    # exact bigint sums
    "bigram_lm": f"""
with ref as (select t from (select {_NT} as t from documents
                            where source = 'src2') where len(t) > 0),
uni as (select w, cast(count(*) as bigint) as c1
        from (select unnest(t) as w from ref) group by w),
bi as (select g, cast(count(*) as bigint) as c2
       from (select unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i+1])) as g from ref)
       group by g),
tot as (select cast(sum(c1) as bigint) as n,
               cast(count(*) as bigint) as v from uni),
bs as (select g, cast(round(ln(c2 / c1) * 1e6, 0) as bigint) as lp2
       from bi join uni on split_part(g, ' ', 1) = w),
us as (select w as v2,
              cast(round(ln((c1 + 1) / ((select n from tot)
                                        + (select v from tot))) * 1e6, 0)
                   as bigint) as lp1
       from uni),
docbi as (select doc_id,
                 unnest(list_transform(range(1, len(t)),
                     i -> t[i] || ' ' || t[i+1])) as g
          from (select doc_id, {_NT} as t from documents
                where source <> 'src2') where len(t) >= 2),
sc as (select doc_id,
              coalesce(lp2, -916291 + coalesce(lp1,
                  cast(round(ln(1 / ((select n from tot)
                                     + (select v from tot))) * 1e6, 0)
                       as bigint))) as lp,
              case when lp2 is null then 1 else 0 end as b
       from docbi left join bs using (g)
       left join us on split_part(g, ' ', 2) = v2),
agg as (select doc_id, cast(count(*) as bigint) as n_bigrams,
               cast(sum(b) as bigint) as n_backoff,
               cast(-sum(lp) as bigint) as nll_micro
        from sc group by doc_id)
select doc_id, n_bigrams, n_backoff, nll_micro,
       round(nll_micro / n_bigrams / 1e6, 6) as avg_nll,
       (round(nll_micro / n_bigrams / 1e6, 6) > 9.0) as flagged
from agg
""",
    # dsir_select twin (operators/sampling.py): hashed unigram+bigram
    # buckets (48-bit md5 prefix % 256, the simhash '0x'-cast idiom), both
    # per-bucket lns quantized to micro-nats on the 256-row table, doc
    # scores exact bigint dot products; Gumbel noise replayed from the
    # same md5 48-bit uniform
    "dsir_select": f"""
with tgt as (select doc_id, {_NT} as t from documents where source = 'src2'),
raw as (select doc_id, {_NT} as t from documents where source <> 'src2'),
tgtg as (select doc_id,
                unnest(list_concat(t, list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1]))) as gram
         from tgt where len(t) > 0),
rawg as (select doc_id,
                unnest(list_concat(t, list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1]))) as gram
         from raw where len(t) > 0),
tgtc as (select doc_id,
                cast('0x' || substr(md5(gram), 1, 12) as bigint) % 256
                    as bucket,
                cast(count(*) as bigint) as c
         from tgtg group by 1, 2),
rawc as (select doc_id,
                cast('0x' || substr(md5(gram), 1, 12) as bigint) % 256
                    as bucket,
                cast(count(*) as bigint) as c
         from rawg group by 1, 2),
tb as (select bucket, cast(sum(c) as bigint) as ct from tgtc group by bucket),
qb as (select bucket, cast(sum(c) as bigint) as cq from rawc group by bucket),
nt as (select cast(sum(ct) as bigint) as v from tb),
nq as (select cast(sum(cq) as bigint) as v from qb),
buckets as (select b.bucket,
       cast(round(ln((coalesce(ct, 0) + 1)
                     / ((select v from nt) + 256.0)) * 1e6, 0) as bigint)
     - cast(round(ln((coalesce(cq, 0) + 1)
                     / ((select v from nq) + 256.0)) * 1e6, 0) as bigint)
           as lw_micro
    from (select unnest(range(0, 256)) as bucket) b
    left join tb using (bucket) left join qb using (bucket)),
scored as (select doc_id, cast(sum(c) as bigint) as n_grams,
                  cast(sum(c * lw_micro) as bigint) as logw_micro
           from rawc join buckets using (bucket) group by doc_id),
keyed as (select doc_id, n_grams, logw_micro,
       cast(round(-ln(-ln(
           (cast('0x' || substr(md5('42|' || cast(doc_id as varchar)), 1, 12)
                 as bigint) + 0.5) / 281474976710656.0)) * 1e6, 0) as bigint)
           as gumbel_micro
    from scored)
select doc_id, n_grams, logw_micro, gumbel_micro,
       logw_micro + gumbel_micro as key_micro
from keyed order by key_micro desc, doc_id limit 100
""",
    # pack_sequences twin: same per-source hash-order window cum-sum as
    # corpus_mix, same slice math (DuckDB list slice is 1-based inclusive
    # = Spark slice(lo+1, hi-lo)); float window-id division is exact
    # (offsets << 2^53)
    "pack_sequences": f"""
with t as (select doc_id, source, {_NT} as toks,
                  substr(md5('42|' || cast(doc_id as varchar)), 1, 12) as k
           from documents),
o as (select source, toks, len(toks) as n,
             cast(sum(len(toks)) over (partition by source order by k, doc_id
                  rows between unbounded preceding and current row)
                  - len(toks) as bigint) as start
      from t),
d as (select source, toks, n, start from o where n > 0),
s as (select source, toks, n, start,
             unnest(range(cast(floor(start / 64.0) as bigint),
                          cast(floor((start + n - 1) / 64.0) as bigint) + 1))
                 as win_id
      from d),
p as (select source, win_id, start,
             toks[cast(greatest(win_id * 64 - start, 0) + 1 as bigint) :
                  cast(least((win_id + 1) * 64 - start, n) as bigint)] as piece
      from s)
select source, win_id,
       cast(sum(len(piece)) as bigint) as n_tokens,
       array_to_string(flatten(list(piece order by start)), ' ') as text
from p group by source, win_id
""",
    # decontaminate twin: distinct 4-grams per doc (1-indexed range
    # transform, same list_distinct as the shingle SQL), src1 = eval side
    "decontaminate": f"""
with t as (select doc_id, source, {_NT} as toks from documents),
s as (select doc_id, source,
             list_distinct(list_transform(range(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      || ' ' || toks[i+3])) as grams
      from t where len(toks) >= 4),
tg as (select doc_id, cast(len(grams) as bigint) as n_grams,
              unnest(grams) as gram
       from s where source <> 'src1'),
eg as (select distinct unnest(grams) as gram from s where source = 'src1')
select tg.doc_id, tg.n_grams, cast(count(*) as bigint) as n_hit_grams,
       round(cast(count(*) as double) / tg.n_grams, 6) as contam_frac
from tg join eg using (gram)
group by tg.doc_id, tg.n_grams
""",
    "pii_scrub": f"""
with inj as (
  select doc_id,
         text || case
           when doc_id % 5 = 0 then ' contact user' || cast(doc_id as varchar)
                                    || '@example.com now'
           when doc_id % 5 = 1 then ' server at 10.' || cast(doc_id % 256 as varchar)
                                    || '.0.' || cast((doc_id * 7) % 256 as varchar)
           when doc_id % 5 = 2 then ' ref no ' || cast(1000000 + doc_id * 13 as varchar)
           else '' end as t
  from documents)
select doc_id,
       {_pii_sql_fragments()[0]},
       {_pii_sql_fragments()[1]} as clean_text
from inj
""",
    "dedup_components": f"""
with recursive
mh_pairs as (select a, b from ({_minhash_sql(0.0)}) mh),
nodes as (select a as n from mh_pairs union select b as n from mh_pairs),
bidir as (select a as x, b as y from mh_pairs
          union select b, a from mh_pairs),
walk(n, m) as (
  select n, n from nodes
  union
  select w.n, b.y from walk w join bidir b on w.m = b.x
),
comp as (select n as doc_id, min(m) as component from walk group by n)
select c.doc_id, c.component, cast(s.cluster_size as bigint) as cluster_size
from comp c
join (select component, count(*) as cluster_size from comp group by component) s
  using (component)
""",
    "ngram_jaccard": _ngram_jaccard_sql(0.0),
    "simhash": _simhash_sql(),
    # simhash_neardup twin (dedup.py hamming_neardup over the simhash
    # signatures): 6 contiguous 10-bit bands — the pigeonhole guarantee
    # (≤5 differing bits dirty ≤5 bands, so one band always matches) —
    # then the exact bit_count(xor) verify
    "simhash_neardup": f"""
with s as ({_simhash_sql()}),
bk as (select doc_id, simhash, band,
              (simhash >> cast(band * 10 as int)) & 1023 as bkey
       from (select doc_id, simhash, unnest(range(0, 6)) as band from s)),
cand as (select distinct x.doc_id as a, y.doc_id as b,
                x.simhash as ha, y.simhash as hb
         from bk x join bk y
           on x.band = y.band and x.bkey = y.bkey and x.doc_id < y.doc_id)
select a, b, cast(bit_count(xor(ha, hb)) as bigint) as hamming
from cand where bit_count(xor(ha, hb)) <= 5
""",
    "ann_topk": """
with pairs as (
  select a.vec_id as vec_id, b.vec_id as neighbor_id,
         round(
           list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                            list_transform(b.embedding, x -> cast(x as double)))
           / (sqrt(list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                                    list_transform(a.embedding, x -> cast(x as double))))
              * sqrt(list_dot_product(list_transform(b.embedding, x -> cast(x as double)),
                                      list_transform(b.embedding, x -> cast(x as double))))),
           4) as sim
  from embeddings a join embeddings b on a.vec_id <> b.vec_id),
ranked as (select vec_id, neighbor_id, sim,
                  row_number() over (partition by vec_id
                                     order by sim desc, neighbor_id asc) as rk
           from pairs)
select vec_id, neighbor_id, sim from ranked where rk <= 5
""",
    "bpe_pair_counts": f"""
with t as (select doc_id, {_NT} as toks from documents),
w as (select unnest(toks) as word from t),
v as (select word, count(*) as freq from w group by word),
s as (select freq,
             list_append(regexp_extract_all(word, '.'), '</w>') as syms
      from v),
p as (select freq,
             unnest(syms[1:len(syms)-1]) as lsym,
             unnest(syms[2:len(syms)]) as rsym
      from s where len(syms) >= 2)
select lsym, rsym, cast(sum(freq) as bigint) as freq
from p group by lsym, rsym
""",
    "semantic_dedup": """
with h as (select vec_id, embedding,
                  md5('c|' || cast(vec_id as varchar)) as hh
           from embeddings),
pick as (select * from h order by hh limit 8),
cent as (select list_transform(embedding, x -> cast(x as double)) as cd,
                cast(row_number() over (order by hh) - 1 as int) as cluster
         from pick),
ev as (select vec_id,
              list_transform(embedding, x -> cast(x as double)) as ed
       from embeddings),
sims as (select e.vec_id, c.cluster,
                round(
                  list_dot_product(e.ed, c.cd)
                  / (sqrt(list_dot_product(e.ed, e.ed))
                     * sqrt(list_dot_product(c.cd, c.cd))), 4) as sim
         from ev e cross join cent c),
asg as (select vec_id, cluster from (
          select vec_id, cluster,
                 row_number() over (partition by vec_id
                                    order by sim desc, cluster asc) as rk
          from sims) where rk = 1),
pairs as (select x.cluster, x.vec_id as a, y.vec_id as b
          from asg x join asg y
            on x.cluster = y.cluster and x.vec_id < y.vec_id)
select p.cluster, p.a, p.b,
       round(
         list_dot_product(va.ed, vb.ed)
         / (sqrt(list_dot_product(va.ed, va.ed))
            * sqrt(list_dot_product(vb.ed, vb.ed))), 4) as sim
from pairs p
join ev va on va.vec_id = p.a
join ev vb on vb.vec_id = p.b
where round(
         list_dot_product(va.ed, vb.ed)
         / (sqrt(list_dot_product(va.ed, va.ed))
            * sqrt(list_dot_product(vb.ed, vb.ed))), 4) >= 0.3
""",
    "kmeans_assign": """
with h as (select vec_id, embedding,
                  md5('c|' || cast(vec_id as varchar)) as hh
           from embeddings),
pick as (select * from h order by hh limit 8),
cent as (select list_transform(embedding, x -> cast(x as double)) as cd,
                cast(row_number() over (order by hh) - 1 as int) as cluster
         from pick),
sims as (select e.vec_id, c.cluster,
                round(
                  list_dot_product(e.ed, c.cd)
                  / (sqrt(list_dot_product(e.ed, e.ed))
                     * sqrt(list_dot_product(c.cd, c.cd))), 4) as sim
         from (select vec_id,
                      list_transform(embedding, x -> cast(x as double)) as ed
               from embeddings) e
         cross join cent c),
ranked as (select vec_id, cluster, sim,
                  row_number() over (partition by vec_id
                                     order by sim desc, cluster asc) as rk
           from sims)
select vec_id, cluster, sim from ranked where rk = 1
""",
    "embedding_neardup": """
select a.vec_id as a, b.vec_id as b,
       round(
         list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                          list_transform(b.embedding, x -> cast(x as double)))
         / (sqrt(list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                                  list_transform(a.embedding, x -> cast(x as double))))
            * sqrt(list_dot_product(list_transform(b.embedding, x -> cast(x as double)),
                                    list_transform(b.embedding, x -> cast(x as double))))),
         4) as sim
from embeddings a join embeddings b on a.vec_id < b.vec_id
where round(
         list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                          list_transform(b.embedding, x -> cast(x as double)))
         / (sqrt(list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                                  list_transform(a.embedding, x -> cast(x as double))))
            * sqrt(list_dot_product(list_transform(b.embedding, x -> cast(x as double)),
                                    list_transform(b.embedding, x -> cast(x as double))))),
         4) >= 0.5
""",
    "tokenize_asciifold": f"""
with toks as (select doc_id,
    list_filter(list_transform(regexp_split_to_array(trim(text), '\\s+'),
        w -> translate(lower(w), '{T.ACCENT_SRC}', '{T.ACCENT_DST}')),
        t -> t <> '' and t not in ({', '.join(f"'{w}'" for w in T.STOPWORDS)})) as t
  from documents)
select doc_id, token, count(*) as cnt
from (select doc_id, unnest(t) as token from toks)
group by doc_id, token
""",
    "fuzzy_dict": f"""
with corpus as (select distinct unnest(string_split(lower(p_name), ' ')) as cw from part),
words as (select distinct unnest({_NT}) as word from documents)
select word, cw, cast(levenshtein(word, cw) as bigint) as dist
from words, corpus
where levenshtein(word, cw) between 1 and 2
order by word, cw
""",
    "sessionize": """
with flagged as (
  select user_id, event_id, ts,
         case when epoch(ts) - lag(epoch(ts)) over w > 1800 then 1 else 0 end as new_sess
  from events
  window w as (partition by user_id order by ts, event_id)),
sess as (
  select user_id, ts,
         sum(new_sess) over (partition by user_id order by ts, event_id
                             rows between unbounded preceding and current row) as session_id
  from flagged)
select user_id, cast(session_id as bigint) as session_id,
       count(*) as n_events, min(ts) as t_start, max(ts) as t_end
from sess group by user_id, session_id
order by user_id, session_id
""",
    # session_windows: the native session_window expression (the one the
    # streaming session_stats_stream runs incrementally) restated as the
    # gaps-and-islands twin — inclusive merge boundary (split iff gap >
    # threshold), window end = last event + gap.  Same decimal(18,2)
    # value-sum discipline as range_join.
    "session_windows": """
with flagged as (
  select user_id, event_id, ts, value,
         case when epoch(ts) - lag(epoch(ts)) over w > 1800
              then 1 else 0 end as new_sess
  from events
  window w as (partition by user_id order by ts, event_id)),
sess as (
  select user_id, ts, value,
         sum(new_sess) over (partition by user_id order by ts, event_id
                             rows between unbounded preceding
                             and current row) as sid
  from flagged)
select user_id,
       min(ts) as sess_start,
       max(ts) + interval 30 minute as sess_end,
       count(*) as n_events,
       cast(sum(cast(value as decimal(18,2))) as double) as sum_value
from sess group by user_id, sid
""",
    "above_cust_avg": """
select o_orderkey, o_custkey,
       cast(cast(o_totalprice as decimal(18,2)) as double) as o_totalprice
from orders o
where cast(o_totalprice as decimal(18,2)) >
      (select avg(cast(i.o_totalprice as decimal(18,2)))
       from orders i where i.o_custkey = o.o_custkey)
order by o_orderkey
""",
    "range_join": """
with win as (select event_id as win_id, ts as lo,
                    ts + interval 10 minute as hi
             from events
             where event_type = 'purchase' and value > 150)
select w.win_id,
       count(*) as n_events,
       cast(sum(cast(e.value as decimal(18,2))) as double) as sum_value
from win w join events e on e.ts >= w.lo and e.ts <= w.hi
group by w.win_id
order by w.win_id
""",
    "q4_exists": """
select o_orderpriority, count(*) as order_count
from orders o
where o_orderdate >= timestamp '1997-01-01 00:00:00'
  and o_orderdate <  timestamp '1998-01-01 00:00:00'
  and exists (select 1 from lineitem l
              where l.l_orderkey = o.o_orderkey
                and l.l_shipdate > o.o_orderdate + interval 60 day)
group by o_orderpriority
order by o_orderpriority
""",
    "q13_custdist": """
with per_cust as (
  select c_custkey, count(o_orderkey) as c_count
  from customer
  left outer join orders
    on c_custkey = o_custkey and o_orderpriority <> '1-URGENT'
  group by c_custkey)
select c_count, count(*) as custdist
from per_cust group by c_count
order by custdist desc, c_count desc
""",
    "q18_large_volume": """
select c_name, o_orderkey, o_orderdate,
       cast(cast(o_totalprice as decimal(18,2)) as double) as o_totalprice,
       sum(l_quantity) as total_qty
from customer
join orders on c_custkey = o_custkey
join lineitem on o_orderkey = l_orderkey
where o_orderkey in (select l_orderkey from lineitem
                     group by l_orderkey having sum(l_quantity) > 300)
group by c_name, o_orderkey, o_orderdate, o_totalprice
order by o_totalprice desc, o_orderkey
limit 100
""",
    "q22_dormant": """
select c_mktsegment as segment,
       count(*) as numcust,
       cast(sum(cast(c_acctbal as decimal(18,2))) as double) as totacctbal
from customer c
where cast(c_acctbal as decimal(18,2)) >
      (select avg(cast(c_acctbal as decimal(18,2)))
       from customer where c_acctbal > 0)
  and not exists (select 1 from orders o
                  where o.o_custkey = c.c_custkey
                    and o.o_orderpriority = '1-URGENT')
group by c_mktsegment
order by segment
""",
    "q14_promo": """
select year(l_shipdate) as l_year,
       cast(sum(case when p_type = 'PROMO'
                     then cast(l_extendedprice as decimal(18,2))
                          * (cast(1 as decimal(18,2))
                             - cast(l_discount as decimal(18,2))) end)
            as double) as promo_revenue,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2))
                   - cast(l_discount as decimal(18,2)))) as double)
           as total_revenue,
       count(*) as n_items
from lineitem join part on l_partkey = p_partkey
where l_shipdate >= date '1996-01-01' and l_shipdate < date '1998-01-01'
group by year(l_shipdate)
order by l_year
""",
    "q15_top_supplier": """
with revenue as (
  select l_suppkey,
         sum(cast(l_extendedprice as decimal(18,2))
             * (cast(1 as decimal(18,2))
                - cast(l_discount as decimal(18,2)))) as total_rev
  from lineitem
  where l_shipdate >= date '1996-01-01' and l_shipdate < date '1996-04-01'
  group by l_suppkey)
select s_suppkey, s_name, cast(total_rev as double) as total_revenue
from revenue join supplier on l_suppkey = s_suppkey
where total_rev = (select max(total_rev) from revenue)
order by s_suppkey
""",
    "q17_small_qty": """
with per_part as (
  select l_partkey as pk,
         sum(cast(l_quantity as bigint)) as sq,
         count(*) as cq
  from lineitem group by l_partkey)
select count(*) as n_items,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double)
           as small_qty_revenue
from lineitem
join part on p_partkey = l_partkey
join per_part on pk = l_partkey
where p_brand = 'Brand#23' and p_size <= 10
  and 5 * cast(l_quantity as bigint) * cq < sq
""",
    "q19_disjunctive": """
select count(*) as n_items,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2))
                   - cast(l_discount as decimal(18,2)))) as double)
           as revenue
from lineitem join part on p_partkey = l_partkey
where (p_brand = 'Brand#12' and p_size between 1 and 5
       and l_quantity between 1 and 11)
   or (p_brand = 'Brand#23' and p_size between 1 and 10
       and l_quantity between 10 and 20)
   or (p_brand = 'Brand#34' and p_size between 1 and 15
       and l_quantity between 20 and 30)
""",
    "q21_waiting": """
select s_name, count(*) as numwait
from supplier
join lineitem l1 on s_suppkey = l1.l_suppkey
join orders on o_orderkey = l1.l_orderkey
where l1.l_shipdate > o_orderdate + interval 90 day
  and exists (select 1 from lineitem l2
              where l2.l_orderkey = l1.l_orderkey
                and l2.l_suppkey <> l1.l_suppkey)
  and not exists (select 1 from lineitem l3
                  where l3.l_orderkey = l1.l_orderkey
                    and l3.l_suppkey <> l1.l_suppkey
                    and l3.l_shipdate > o_orderdate + interval 90 day)
group by s_name
order by numwait desc, s_name
limit 25
""",
    "q2_min_cost": """
with cost as (
  select l_partkey as pk, l_suppkey as sk,
         min(cast(l_extendedprice as decimal(18,2))) as supply_cost
  from lineitem group by l_partkey, l_suppkey)
select s_acctbal, s_name, n_name, p_partkey,
       cast(supply_cost as double) as supply_cost
from cost
join supplier on sk = s_suppkey
join nation on s_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
join part on pk = p_partkey
where r_name = 'EUROPE' and p_size <= 15 and p_type = 'LARGE'
  and supply_cost = (
    select min(cast(l2.l_extendedprice as decimal(18,2)))
    from lineitem l2
    join supplier s2 on l2.l_suppkey = s2.s_suppkey
    join nation n2 on s2.s_nationkey = n2.n_nationkey
    join region r2 on n2.n_regionkey = r2.r_regionkey
    where l2.l_partkey = pk and r2.r_name = 'EUROPE')
order by s_acctbal desc, n_name, s_name, p_partkey
limit 100
""",
    "q6_forecast": """
select count(*) as n_items,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * cast(l_discount as decimal(18,2))) as double) as revenue
from lineitem
where l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01'
  and cast(l_discount as decimal(18,2))
      between cast('0.05' as decimal(18,2)) and cast('0.07' as decimal(18,2))
  and l_quantity < 24
""",
    "q8_market_share": """
select year(o_orderdate) as o_year,
       cast(sum(case when r2.r_name = 'EUROPE'
                     then cast(l_extendedprice as decimal(18,2))
                          * (cast(1 as decimal(18,2))
                             - cast(l_discount as decimal(18,2))) end)
            as double) as europe_volume,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2))
                   - cast(l_discount as decimal(18,2)))) as double)
           as total_volume,
       count(*) as n_items
from lineitem
join part on l_partkey = p_partkey
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join nation n1 on c_nationkey = n1.n_nationkey
join region r1 on n1.n_regionkey = r1.r_regionkey
join supplier on l_suppkey = s_suppkey
join nation n2 on s_nationkey = n2.n_nationkey
join region r2 on n2.n_regionkey = r2.r_regionkey
where r1.r_name = 'ASIA' and p_type = 'ECONOMY'
  and o_orderdate >= date '1996-01-01' and o_orderdate < date '1998-01-01'
group by year(o_orderdate)
order by o_year
""",
    "q9_product_profit": """
select n_name, year(o_orderdate) as o_year,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2))
                   - cast(l_discount as decimal(18,2)))
                - cast(p_retailprice as decimal(18,2))
                  * cast(l_quantity as decimal(18,2))) as double) as profit,
       count(*) as n_items
from lineitem
join part on l_partkey = p_partkey
join supplier on l_suppkey = s_suppkey
join nation on s_nationkey = n_nationkey
join orders on l_orderkey = o_orderkey
where p_name like '%widget%'
group by n_name, year(o_orderdate)
order by n_name, o_year desc
""",
    "q11_important_stock": """
with val as (
  select l_partkey as p_partkey,
         sum(cast(l_extendedprice as decimal(18,2))) as value_dec
  from lineitem
  join supplier on l_suppkey = s_suppkey
  join nation on s_nationkey = n_nationkey
  join region on n_regionkey = r_regionkey
  where r_name = 'EUROPE'
  group by l_partkey)
select p_partkey, cast(value_dec as double) as part_value
from val
where value_dec * 1000 > (select sum(value_dec) from val)
order by part_value desc, p_partkey
""",
    "q12_priority_lag": """
select l_returnflag,
       count(case when o_orderpriority in ('1-URGENT', '2-HIGH')
                  then 1 end) as high_line_count,
       count(case when o_orderpriority not in ('1-URGENT', '2-HIGH')
                  then 1 end) as low_line_count
from orders join lineitem on o_orderkey = l_orderkey
where l_shipdate >= o_orderdate + interval 60 day
  and l_shipdate < o_orderdate + interval 120 day
group by l_returnflag
order by l_returnflag
""",
    "q16_supplier_cnt": """
select p_brand, p_type, p_size,
       count(distinct l_suppkey) as supplier_cnt
from (select distinct l_partkey, l_suppkey from lineitem) ps
join part on l_partkey = p_partkey
where p_brand <> 'Brand#23' and p_type <> 'PROMO'
  and p_size in (1, 4, 9, 16, 25, 36, 49)
  and l_suppkey not in
      (select s_suppkey from supplier where s_acctbal < 1000)
group by p_brand, p_type, p_size
order by supplier_cnt desc, p_brand, p_type, p_size
""",
    "q20_excess_supplier": """
with ps as (
  select l_partkey as pk, l_suppkey as sk,
         sum(case when l_shipdate >= date '1996-01-01'
                   and l_shipdate < date '1997-01-01'
                  then cast(l_quantity as bigint) else 0 end) as q96,
         sum(cast(l_quantity as bigint)) as qall
  from lineitem group by l_partkey, l_suppkey)
select s_suppkey, s_name
from supplier
where s_suppkey in (
  select sk from ps
  where pk in (select p_partkey from part where p_name like '%widget%')
    and 2 * q96 > qall)
order by s_suppkey
""",
    "q1_pricing": """
select l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base_price,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) as sum_disc_price,
       count(*) as count_order
from lineitem
where l_shipdate <= date '2001-09-02'
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
""",
    "q3_topk": """
select l_orderkey, o_orderdate,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING' and o_orderdate < date '1998-01-01'
group by l_orderkey, o_orderdate
order by revenue desc, l_orderkey asc
limit 10
""",
    "q7_volume_shipping": """
select supp_nation, cust_nation, year(l_shipdate) as l_year,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) as revenue,
       count(*) as n_items
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join supplier on l_suppkey = s_suppkey
join (select n_nationkey as s_nk, n_name as supp_nation from nation) n1
  on s_nationkey = s_nk
join (select n_nationkey as c_nk, n_name as cust_nation from nation) n2
  on c_nationkey = c_nk
where l_shipdate >= date '1996-01-01' and l_shipdate < date '1998-01-01'
  and ((supp_nation = 'NATION_1' and cust_nation = 'NATION_2')
       or (supp_nation = 'NATION_2' and cust_nation = 'NATION_1'))
group by supp_nation, cust_nation, year(l_shipdate)
""",
    "q10_returned_items": """
select c_custkey, c_name, c_acctbal, n_name,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
where l_returnflag = 'R'
  and o_orderdate >= date '1996-01-01' and o_orderdate < date '1996-07-01'
group by c_custkey, c_name, c_acctbal, n_name
order by revenue desc, c_custkey asc
limit 20
""",
    "q5_region_revenue": """
select r_name, n_name,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) as revenue,
       count(*) as n_items
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join supplier on l_suppkey = s_suppkey
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
where c_nationkey = s_nationkey and r_name in ('ASIA', 'EUROPE')
group by r_name, n_name
order by r_name, n_name
""",
    "window_top_customers": """
with totals as (
  select o_custkey, cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total
  from orders group by o_custkey),
j as (select c_mktsegment, c_custkey, c_name, total
      from totals join customer on o_custkey = c_custkey),
r as (select *, row_number() over (partition by c_mktsegment
                                   order by total desc, c_custkey asc) as rk
      from j)
select c_mktsegment, rk, c_custkey, c_name, total
from r where rk <= 3
order by c_mktsegment, rk
""",
    "rollup_nation_region": """
select r_name, n_name, count(*) as n_cust,
       cast(sum(cast(c_acctbal as decimal(18,2))) as double) as sum_bal
from customer
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by rollup(r_name, n_name)
order by r_name asc nulls first, n_name asc nulls first
""",
    "setop_customer_churn": """
with y97 as (select o_custkey from orders
             where o_orderdate >= date '1997-01-01' and o_orderdate < date '1998-01-01'),
y98 as (select o_custkey from orders
        where o_orderdate >= date '1998-01-01' and o_orderdate < date '1999-01-01'),
churned as (select distinct o_custkey, 'churned' as status
            from (select o_custkey from y97 except all select o_custkey from y98)),
retained as (select o_custkey, 'retained' as status
             from (select o_custkey from y97 intersect select o_custkey from y98))
select * from churned union all select * from retained
order by status, o_custkey
""",
    "events_windowed": """
select date_trunc('hour', ts) as hour, event_type,
       count(*) as n,
       cast(sum(cast(value as decimal(18,2))) as double) as sum_value
from events
group by 1, 2
order by hour, event_type
""",
    "asof_join": """
with e as (select event_id, user_id as key, cast(ts as date) as d from events),
best as (select e.event_id, o.o_orderkey, o.o_orderdate,
                row_number() over (partition by e.event_id
                                   order by o.o_orderdate desc, o.o_orderkey desc) as rn
         from e left join orders o
           on o.o_custkey = e.key and o.o_orderdate <= e.d)
select event_id, o_orderkey, o_orderdate from best where rn = 1
""",
}

# full-probe IVF is exact top-k — same oracle as the brute-force query
_ORACLES["ann_ivf_fullprobe"] = _ORACLES["ann_topk"]
_ORACLES["ann_pq_fullrefine"] = _ORACLES["ann_topk"]
_ORACLES["ann_ivfpq_full"] = _ORACLES["ann_topk"]


def _url_sqls() -> None:
    """Twins for the URL-curation family.  The synthesis CTEs mirror
    ``_synth_url`` token-for-token (same md5-prefix hashes, same CASE
    arms); parse/normalize/registered-domain mirror functions/url.py —
    the regex and the multi-suffix IN-list are interpolated from the SAME
    module constants, so the spec can never drift between engines."""
    from ocr_spark.functions.url import MULTI_SUFFIXES, URL_RE

    multi = ", ".join(f"'{s}'" for s in MULTI_SUFFIXES)
    keep = "x -> x <> '' and not starts_with(x, 'utm_')"
    ctes = f"""
base as (
  select doc_id, lang, n_chars, source,
         cast(doc_id as varchar) as d,
         cast(doc_id % 200 as varchar) as g
  from documents),
hh as (
  select *,
         cast(('0x' || substr(md5(g), 1, 6)) as bigint) as hg,
         cast(('0x' || substr(md5(d), 1, 6)) as bigint) as hd
  from base),
pieces as (
  select doc_id, lang, n_chars, d, hd,
         case when hg % 5 = 0 then 'http' else 'https' end as scheme,
         (case when hg % 3 = 0 then 'www.' when hg % 3 = 1 then ''
               else 'blog.' end
          || source || '-' || cast(hg % 40 as varchar) || '.'
          || case when hg % 7 = 0 then 'com' when hg % 7 = 1 then 'org'
                  when hg % 7 = 2 then 'net' when hg % 7 = 3 then 'co.uk'
                  when hg % 7 = 4 then 'com.au' when hg % 7 = 5 then 'io'
                  else 'gov.uk' end) as host0,
         '/' || source || '/page-' || g
             || case when hd % 4 = 0 then '/' else '' end as pth0,
         'id=' || g as q0
  from hh),
urls as (
  select doc_id, lang, n_chars,
         scheme || '://'
         || case when hd % 11 = 0 then upper(host0) else host0 end
         || case when hd % 13 = 0
                 then case when scheme = 'https' then ':443' else ':80' end
                 else '' end
         || pth0
         || case when hd % 6 = 0 then '?utm_source=feed&' || q0
                 when hd % 6 = 1 then '?' || q0 || '&utm_campaign=x'
                 when hd % 6 = 2 then '?' || q0 || '&ref=home'
                 when hd % 6 = 3 then '?ref=home&' || q0
                 when hd % 6 = 4 then '?' || q0
                 else '' end
         || case when hd % 9 = 0 then '#sec-' || d else '' end as url
  from pieces),
parsed as (
  select doc_id, lang, n_chars,
         regexp_extract(url, '{URL_RE}', 1) as sch,
         regexp_extract(url, '{URL_RE}', 2) as hst,
         regexp_extract(url, '{URL_RE}', 3) as prt,
         regexp_extract(url, '{URL_RE}', 4) as pth,
         regexp_extract(url, '{URL_RE}', 5) as qry
  from urls),
normed as (
  select doc_id, lang, n_chars, lower(hst) as host,
         lower(sch) || '://' || lower(hst)
         || case when prt = '' then ''
                 when lower(sch) = 'http' and prt = '80' then ''
                 when lower(sch) = 'https' and prt = '443' then ''
                 else ':' || prt end
         || case when regexp_replace(pth, '/+$', '') = '' then '/'
                 else regexp_replace(pth, '/+$', '') end
         || case when len(list_filter(string_split(qry, '&'), {keep})) > 0
                 then '?' || array_to_string(list_sort(
                        list_filter(string_split(qry, '&'), {keep})), '&')
                 else '' end as norm_url
  from parsed)
"""
    dom_ctes = f"""{ctes},
hp as (select *, string_split(host, '.') as parts from normed),
dom as (select doc_id, lang, n_chars, host, norm_url,
        case when len(parts) >= 3
                  and (parts[-2] || '.' || parts[-1]) in ({multi})
             then parts[-3] || '.' || parts[-2] || '.' || parts[-1]
             when len(parts) >= 2 then parts[-2] || '.' || parts[-1]
             else host end as domain
        from hp)"""
    _ORACLES["domain_stats"] = f"""
with {dom_ctes}
select domain,
       cast(count(*) as bigint) as n_docs,
       cast(count(distinct host) as bigint) as n_hosts,
       cast(count(distinct norm_url) as bigint) as n_urls,
       cast(sum(n_chars) as bigint) as sum_chars,
       round(sum(case when lang = 'en' then 1 else 0 end) / count(*), 6)
           as en_frac
from dom group by domain
"""
    _ORACLES["url_dedup"] = f"""
with {ctes}
select norm_url,
       min(doc_id) as keep_doc_id,
       cast(count(*) - 1 as bigint) as n_dupes
from normed group by norm_url
"""
    _ORACLES["domain_filter"] = f"""
with {dom_ctes},
stats as (select domain,
                 round(sum(case when lang = 'en' then 1 else 0 end)
                       / count(*), 6) as en_frac
          from dom group by domain)
select d.domain, d.doc_id, d.lang
from dom d join stats s using (domain)
where s.en_frac >= 0.3
"""
    # web_curate twin: the WHOLE composed web pipeline
    # (jobs/web_curate.py) — url dedup → domain prior → repetition →
    # components closure → canonical keep → leakage-safe split — in one
    # recursive query built from the same stage twins
    _ORACLES["web_curate"] = f"""
with recursive {dom_ctes},
keepu as (select min(doc_id) as doc_id from normed group by norm_url),
dom1 as (select dm.domain, dm.doc_id, dm.lang from dom dm
         join keepu using (doc_id)),
dstat as (select domain,
                 round(sum(case when lang = 'en' then 1 else 0 end)
                       / count(*), 6) as en_frac
          from dom1 group by domain),
s2ids as (select dom1.doc_id from dom1 join dstat using (domain)
          where dstat.en_frac >= 0.3),
s2docs as (select d.* from documents d join s2ids using (doc_id)),
rep as ({_doc_repetition_sql("s2docs")}),
s3ids as (select s2docs.doc_id from s2docs left join rep using (doc_id)
          where rep.flagged is null or not rep.flagged),
s3docs as (select d.* from documents d join s3ids using (doc_id)),
mhp as ({_minhash_sql(0.0, src="s3docs")}),
nodes as (select a as n from mhp union select b as n from mhp),
bidir as (select a as x, b as y from mhp union select b, a from mhp),
walk(n, m) as (
  select n, n from nodes
  union
  select w.n, b.y from walk w join bidir b on w.m = b.x
),
comp as (select n as doc_id, min(m) as component from walk group by n),
scoredk as (select c.doc_id, c.component, d.n_chars from comp c
            join documents d using (doc_id)),
keepers as (select doc_id from scoredk
            qualify row_number() over (partition by component
                    order by n_chars desc, doc_id asc) = 1),
s4ids as (select doc_id from s3ids
          where doc_id not in (select doc_id from comp)
          union all
          select doc_id from keepers),
fin as (select s.doc_id, coalesce(c.component, s.doc_id) as component
        from s4ids s left join comp c using (doc_id))
select doc_id, component,
       case when substr(md5('42|' || cast(component as varchar)), 1, 12)
                 < '{SP._threshold_hex(0.8)}' then 'train'
            when substr(md5('42|' || cast(component as varchar)), 1, 12)
                 < '{SP._threshold_hex(0.8 + 0.1)}' then 'val'
            else 'test' end as split
from fin
"""
    # html_links / link_edges twins: built from the SAME regex constants as
    # operators/html.py (pattern drift impossible).  DuckDB deltas: 'g'
    # flag on the comment strip, regexp_extract with no group = whole
    # match, regexp_matches for rlike, parallel unnest+range for posexplode.
    from ocr_spark.operators import html as H

    def hsq(p: str) -> str:
        return p.replace("'", "''")

    def hnorm(v: str) -> str:
        out = f"regexp_replace({v}, '{hsq(H.TAG_RE)}', ' ', 'g')"
        for ent, rep in H.ENTITY_RULES:
            out = f"replace({out}, '{hsq(ent)}', '{hsq(rep)}')"
        return f"trim(regexp_replace({out}, '{hsq(H.WS_RE)}', ' ', 'g'))"

    def regdom(parts: str, host: str) -> str:
        return f"""case when len({parts}) >= 3
                  and ({parts}[-2] || '.' || {parts}[-1]) in ({multi})
             then {parts}[-3] || '.' || {parts}[-2] || '.' || {parts}[-1]
             when len({parts}) >= 2 then {parts}[-2] || '.' || {parts}[-1]
             else {host} end"""

    links_ctes = f"""{ctes},
pg as (select u.doc_id, u.url, {_LINKS_SYNTH} as html from urls u),
tl as (select doc_id, url,
              regexp_extract_all(
                  regexp_replace(html, '{hsq(H.COMMENT_RE)}', ' ', 'g'),
                  '{hsq(H.A_TAG_RE)}') as tags
       from pg),
el as (select doc_id, url,
              cast(unnest(range(0, len(tags))) as int) as link_pos,
              unnest(tags) as tag
       from tl),
ho as (select doc_id, url, link_pos, tag,
              regexp_extract(tag, '{hsq(H.A_OPEN_RE)}') as ot
       from el),
lk as (select doc_id, url, link_pos, tag, ot,
              case when regexp_extract(ot, '{hsq(H.HREF_DQ_RE)}', 1) <> ''
                   then regexp_extract(ot, '{hsq(H.HREF_DQ_RE)}', 1)
                   else regexp_extract(ot, '{hsq(H.HREF_SQ_RE)}', 1) end
                  as href,
              lower(regexp_extract(url, '{URL_RE}', 1)) as psch,
              lower(regexp_extract(url, '{URL_RE}', 2)) as phst
       from ho),
rl as (select doc_id, url, link_pos, href,
              {hnorm(f"regexp_extract(tag, '{hsq(H.ANCHOR_RE)}', 1)")}
                  as anchor,
              regexp_matches(ot, '{hsq(H.NOFOLLOW_RE)}') as nofollow,
              case when regexp_matches(href, '{hsq(H.ABS_URL_RE)}')
                        then href
                   when starts_with(href, '//')
                        then psch || ':' || href
                   when starts_with(href, '/')
                        then psch || '://' || phst || href
                   else null end as dst_url
       from lk)"""
    _ORACLES["html_links"] = f"""
with {links_ctes}
select doc_id, url, link_pos, href, anchor, nofollow,
       coalesce(dst_url, '') as dst_url
from rl
"""
    _ORACLES["link_edges"] = f"""
with {links_ctes},
ed0 as (select lower(regexp_extract(url, '{URL_RE}', 2)) as sh,
               lower(regexp_extract(dst_url, '{URL_RE}', 2)) as dh
        from rl where not nofollow and dst_url is not null),
ed1 as (select sh, dh, string_split(sh, '.') as sp,
               string_split(dh, '.') as dp from ed0),
ed as (select {regdom('sp', 'sh')} as src_domain,
              {regdom('dp', 'dh')} as dst_domain
       from ed1)
select src_domain, dst_domain, cast(count(*) as bigint) as n_links
from ed where src_domain <> dst_domain
group by src_domain, dst_domain
"""
    _ORACLES["anchor_terms"] = f"""
with {links_ctes},
ak0 as (select lower(regexp_extract(url, '{URL_RE}', 2)) as sh,
               lower(regexp_extract(dst_url, '{URL_RE}', 2)) as dh,
               anchor
        from rl where not nofollow and dst_url is not null),
ak1 as (select sh, dh, anchor, string_split(sh, '.') as sp,
               string_split(dh, '.') as dp from ak0),
ak as (select {regdom('sp', 'sh')} as src_domain,
              {regdom('dp', 'dh')} as dst_domain, anchor
       from ak1),
tx as (select dst_domain, src_domain, unnest({_nt_of('anchor')}) as term
       from ak where src_domain <> dst_domain)
select dst_domain, term, cast(count(*) as bigint) as n_mentions,
       cast(count(distinct src_domain) as bigint) as n_src_domains
from tx group by dst_domain, term
"""
    # html_tables twin: same TABLE/TR/CELL/TH constants; three parallel
    # unnest+range levels for Spark's posexplode ladder; cell
    # normalization via the same hnorm chain as the other html twins.
    _ORACLES["html_tables"] = f"""
with pg as (select doc_id, {_TABLES_SYNTH} as html from documents),
tb as (select doc_id,
              regexp_extract_all(
                  regexp_replace(html, '{hsq(H.COMMENT_RE)}', ' ', 'g'),
                  '{hsq(H.TABLE_RE)}') as ts
       from pg),
tx as (select doc_id,
              cast(unnest(range(0, len(ts))) as int) as table_idx,
              unnest(ts) as tbl
       from tb),
rw0 as (select doc_id, table_idx,
               regexp_extract_all(tbl, '{hsq(H.TR_RE)}') as rs from tx),
rw as (select doc_id, table_idx,
              cast(unnest(range(0, len(rs))) as int) as row_idx,
              unnest(rs) as rh
       from rw0),
cl0 as (select doc_id, table_idx, row_idx,
               regexp_extract_all(rh, '{hsq(H.CELL_RE)}') as cs from rw),
cl as (select doc_id, table_idx, row_idx,
              cast(unnest(range(0, len(cs))) as int) as col_idx,
              unnest(cs) as ch
       from cl0)
select doc_id, table_idx, row_idx, col_idx,
       regexp_matches(ch, '{hsq(H.TH_OPEN_RE)}') as is_header,
       {hnorm('ch')} as cell
from cl
"""
    # zorder_layout twin: the identical Morton interleave is generated by
    # the SAME module function (morton_key_sql), the min-max scale and
    # band fractions share the module constants; the Spark path's driver
    # lo/hi scalars are exact integer min/max, so computing them in a
    # DuckDB CTE yields the same values.  // ≡ Spark div on the
    # non-negative operands produced here.
    from ocr_spark.operators import zorder as Z

    _zb, _zfb = Z.DEFAULT_BITS, Z.DEFAULT_FILE_BITS
    _zm = (1 << _zb) - 1
    _ORACLES["zorder_layout"] = f"""
with mm as (select min(n_chars) as la, max(n_chars) as ha,
                   min(doc_id) as lb, max(doc_id) as hb from documents),
sc as (select d.n_chars as ra, d.doc_id as rb,
              ((d.n_chars - mm.la) * {_zm} // greatest(mm.ha - mm.la, 1))
                  as sa,
              ((d.doc_id - mm.lb) * {_zm} // greatest(mm.hb - mm.lb, 1))
                  as sb
       from documents d cross join mm),
zk as (select ra, rb, sa, {Z.morton_key_sql('sa', 'sb', _zb)} as z from sc),
fl as (select 'zorder' as layout, (z >> {2 * _zb - _zfb}) as file_id,
              ra, rb from zk
       union all
       select 'linear' as layout, (sa >> {_zb - _zfb}) as file_id,
              ra, rb from zk),
st as (select layout, cast(file_id as bigint) as file_id,
              cast(count(*) as bigint) as n_rows,
              min(ra) as min_a, max(ra) as max_a,
              min(rb) as min_b, max(rb) as max_b
       from fl group by layout, file_id),
pb as (select la + ((ha - la) * {Z.BAND_LO_NUM}) // {Z.BAND_DEN} as pa_lo,
              la + ((ha - la) * {Z.BAND_HI_NUM}) // {Z.BAND_DEN} as pa_hi,
              lb + ((hb - lb) * {Z.BAND_LO_NUM}) // {Z.BAND_DEN} as pb_lo,
              lb + ((hb - lb) * {Z.BAND_HI_NUM}) // {Z.BAND_DEN} as pb_hi
       from mm)
select st.layout, st.file_id, st.n_rows, st.min_a, st.max_a,
       st.min_b, st.max_b,
       not (st.max_a < pb.pa_lo or st.min_a > pb.pa_hi
            or st.max_b < pb.pb_lo or st.min_b > pb.pb_hi) as would_scan
from st cross join pb
"""
    # html_outline twin: same chrome-strip chain and HEADING_RE constants;
    # the last-title/last-pos per level via last_value(... ignore nulls)
    # windows, the same staged running maxima, the same include chain.
    oh_clean = f"regexp_replace(html, '{hsq(H.COMMENT_RE)}', ' ', 'g')"
    for tag in H.DROP_CONTAINER_TAGS:
        oh_clean = (
            f"regexp_replace({oh_clean}, '{hsq(H.container_re(tag))}',"
            " ' ', 'g')"
        )
    for img_re in (H.IMG_DQ_RE, H.IMG_SQ_RE):
        oh_clean = (
            f"regexp_replace({oh_clean}, '{hsq(img_re)}', "
            f"'<br>{H.MEDIA_SENTINEL}\\1<br>', 'g')"
        )
    oh_clean = f"regexp_replace({oh_clean}, '{hsq(H.IMG_BARE_RE)}', ' ', 'g')"
    _ol_last = "\n".join(
        f"""              last_value(case when level = {k} then title end
                  ignore nulls) over w as t{k},
              last_value(case when level = {k} then pos end
                  ignore nulls) over w as p{k},"""
        for k in range(1, 6)
    ).rstrip(",")
    _ORACLES["html_outline"] = f"""
with og as (select doc_id, {_OUTLINE_SYNTH} as html from documents),
oc as (select doc_id, {oh_clean} as c from og),
oz as (select doc_id,
              regexp_extract_all(c, '{hsq(H.HEADING_RE)}', 1) as lv,
              regexp_extract_all(c, '{hsq(H.HEADING_RE)}', 2) as bd
       from oc),
oe as (select doc_id,
              cast(unnest(range(0, len(lv))) as int) as pos,
              cast(unnest(lv) as int) as level,
              unnest(bd) as body
       from oz),
oh as (select doc_id, pos, level, {hnorm('body')} as title from oe),
ow as (select doc_id, pos, level, title,
{_ol_last}
       from oh
       window w as (partition by doc_id order by pos
                    rows between unbounded preceding and current row)),
om as (select *,
              coalesce(p1, -1) as m1,
              greatest(coalesce(p1, -1), coalesce(p2, -1)) as m2,
              greatest(greatest(coalesce(p1, -1), coalesce(p2, -1)),
                       coalesce(p3, -1)) as m3,
              greatest(greatest(greatest(coalesce(p1, -1),
                       coalesce(p2, -1)), coalesce(p3, -1)),
                       coalesce(p4, -1)) as m4
       from ow)
select doc_id, pos, level, title,
       concat_ws(' > ',
         case when level > 1 and p1 is not null and p1 > -1 then t1 end,
         case when level > 2 and p2 is not null and p2 > m1 then t2 end,
         case when level > 3 and p3 is not null and p3 > m2 then t3 end,
         case when level > 4 and p4 is not null and p4 > m3 then t4 end,
         case when level > 5 and p5 is not null and p5 > m4 then t5 end,
         title) as path
from om
"""
    # http_meta twin: same status/head/ctype/charset/body constants from
    # sources/warc.py; same coalesce/keep projection.
    from ocr_spark.sources import warc as WA

    _ORACLES["http_meta"] = f"""
with hx as (select doc_id, {_HTTP_SYNTH} as payload from documents),
hh as (select doc_id, payload,
              regexp_extract(payload, '{hsq(WA.HTTP_HEAD_RE)}', 1) as head
       from hx),
hm as (select doc_id,
              try_cast(regexp_extract(head, '{hsq(WA.HTTP_STATUS_RE)}', 1)
                       as int) as status,
              lower(trim(regexp_extract(head,
                  '{hsq(WA.HTTP_CTYPE_RE)}', 1))) as mime,
              lower(regexp_extract(head,
                  '{hsq(WA.HTTP_CHARSET_RE)}', 1)) as charset,
              case when regexp_matches(payload, '{hsq(WA.HTTP_HEAD_RE)}')
                   then regexp_replace(payload,
                        '{hsq(WA.HTTP_BODY_STRIP_RE)}', '')
                   else '' end as body
       from hh)
select doc_id, coalesce(status, -1) as status, mime, charset,
       cast(length(body) as int) as body_len,
       coalesce(status = 200 and mime = 'text/html', false) as keep
from hm
"""
    # alto_words twin: same block/line/string ladder constants and the
    # same reverse-order unescape chain; try_cast('' as int) is NULL in
    # both engines (fixture always carries geometry, so no NULLs here).
    from ocr_spark.sources import alto as AL

    def _alto_unesc(v: str) -> str:
        out = v
        for ent, rep in AL.UNESCAPE_RULES:
            out = f"replace({out}, '{hsq(ent)}', '{hsq(rep)}')"
        return out

    _ORACLES["alto_words"] = f"""
with ax as (select doc_id, cast(doc_id % 5 as int) as page_no,
                   {_ALTO_SYNTH} as alto_xml from documents),
ab as (select doc_id, page_no,
              regexp_extract_all(alto_xml, '{hsq(AL.TEXTBLOCK_RE)}') as bs
       from ax),
abe as (select doc_id, page_no,
               cast(unnest(range(0, len(bs))) as int) as block_idx,
               unnest(bs) as blk
        from ab),
al0 as (select doc_id, page_no, block_idx,
               regexp_extract_all(blk, '{hsq(AL.TEXTLINE_RE)}') as ls
        from abe),
ale as (select doc_id, page_no, block_idx,
               cast(unnest(range(0, len(ls))) as int) as line_idx,
               unnest(ls) as ln
        from al0),
aw0 as (select doc_id, page_no, block_idx, line_idx,
               regexp_extract_all(ln, '{hsq(AL.STRING_RE)}') as ws
        from ale),
awe as (select doc_id, page_no, block_idx, line_idx,
               cast(unnest(range(0, len(ws))) as int) as word_idx,
               unnest(ws) as tag
        from aw0),
awp as (select doc_id, page_no, block_idx, line_idx, word_idx,
               {_alto_unesc(f"regexp_extract(tag, '{hsq(AL.CONTENT_RE)}', 1)")}
                   as text,
               try_cast(regexp_extract(tag, '{hsq(AL.HPOS_RE)}', 1)
                        as int) as x1,
               try_cast(regexp_extract(tag, '{hsq(AL.VPOS_RE)}', 1)
                        as int) as y1,
               try_cast(regexp_extract(tag, '{hsq(AL.WIDTH_RE)}', 1)
                        as int) as w,
               try_cast(regexp_extract(tag, '{hsq(AL.HEIGHT_RE)}', 1)
                        as int) as h
        from awe)
select doc_id, page_no, block_idx, line_idx, word_idx, text,
       x1, y1, (x1 + w) as x2, (y1 + h) as y2
from awp
"""
    # html_markdown twin: the identical ordered rule chain from
    # operators/html.py; Java `$N` group refs become RE2 `\N`, raw
    # newlines in replacements are legal in SQL string literals.
    md = f"regexp_replace(html, '{hsq(H.COMMENT_RE)}', ' ', 'g')"
    for tag in H.DROP_CONTAINER_TAGS:
        md = (
            f"regexp_replace({md}, '{hsq(H.container_re(tag))}', ' ', 'g')"
        )
    for pat, repl in H.MD_RULES:
        dr = repl.replace("$1", "\\1").replace("$2", "\\2")
        md = f"regexp_replace({md}, '{hsq(pat)}', '{hsq(dr)}', 'g')"
    md = f"regexp_replace({md}, '{hsq(H.TAG_RE)}', ' ', 'g')"
    for ent, rep in H.ENTITY_RULES:
        md = f"replace({md}, '{hsq(ent)}', '{hsq(rep)}')"
    for pat, repl in H.MD_WS_RULES:
        md = f"regexp_replace({md}, '{hsq(pat)}', '{hsq(repl)}', 'g')"
    _ORACLES["html_markdown"] = f"""
with mdp as (select doc_id, {_MD_SYNTH} as html from documents)
select doc_id, {md} as markdown from mdp
"""
    # fetch_to_markdown twin: the http_meta head/gate CTEs composed with
    # the SAME markdown chain (`md` renders the gated body column).
    _ORACLES["fetch_to_markdown"] = f"""
with fm0 as (select doc_id, {_MD_SYNTH} as h from documents),
fm1 as (select doc_id,
               case when doc_id % 5 = 4 then 'garbage not http'
                    when doc_id % 5 = 3 then
                      'HTTP/1.1 404 Not Found' || chr(13) || chr(10) ||
                      'Content-Type: text/html' || chr(13) || chr(10) ||
                      chr(13) || chr(10) || h
                    else
                      'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
                      'Content-Type: text/html; charset=utf-8' || chr(13)
                      || chr(10) || chr(13) || chr(10) || h end as payload
        from fm0),
fm2 as (select doc_id, payload,
               regexp_extract(payload, '{hsq(WA.HTTP_HEAD_RE)}', 1)
                   as head
        from fm1),
fm3 as (select doc_id,
               try_cast(regexp_extract(head,
                   '{hsq(WA.HTTP_STATUS_RE)}', 1) as int) as status,
               lower(trim(regexp_extract(head,
                   '{hsq(WA.HTTP_CTYPE_RE)}', 1))) as mime,
               case when regexp_matches(payload,
                         '{hsq(WA.HTTP_HEAD_RE)}')
                    then regexp_replace(payload,
                         '{hsq(WA.HTTP_BODY_STRIP_RE)}', '')
                    else '' end as html
        from fm2),
fm4 as (select doc_id, html from fm3
        where coalesce(status = 200 and mime = 'text/html', false))
select doc_id, {md} as markdown from fm4
"""
    # frontier_plan twin: same md5 order key, same (host, bucket) window,
    # same slot arithmetic (// = Spark floor-div on exact small ints).
    fp_host, fp_buckets = 2, 8
    _ORACLES["frontier_plan"] = f"""
with {ctes},
rep as (select norm_url, host, min(doc_id) as doc_id
        from normed group by norm_url, host),
fst as (select *,
               cast(cast(('0x' || substr(md5(norm_url), 1, 12)) as bigint)
                    % {fp_buckets} as int) as bucket,
               md5(norm_url) as o
        from rep),
frk as (select *, row_number() over (partition by host, bucket
                                     order by o, norm_url) as rnk
        from fst)
select norm_url, host, doc_id, bucket,
       cast(((rnk - 1) // {fp_host}) * {fp_buckets} + bucket as bigint)
           as slot
from frk
"""
    # robots twins: grammar constants interpolated from operators/web.py
    # (drift impossible); same window formulation for grouping, and the
    # filter twin replaces Spark's order-independent array fold with the
    # equivalent longest-prefix/allow-wins row_number pick.
    from ocr_spark.operators import web as W

    robots_tail = f"""hosts as (select distinct host from normed),
robots as (select host, {_ROBOTS_SYNTH} as robots_txt from hosts),
rb0 as (select host, string_split(robots_txt, chr(10)) as ls from robots),
rb1 as (select host, unnest(ls) as raw,
               cast(unnest(range(0, len(ls))) as bigint) as ln from rb0),
rb2 as (select host, ln,
        lower(coalesce(regexp_extract(
            trim(regexp_replace(raw, '{W.ROBOTS_COMMENT_RE}', '', 'g')),
            '{W.ROBOTS_DIRECTIVE_RE}', 1), '')) as directive,
        trim(coalesce(regexp_extract(
            trim(regexp_replace(raw, '{W.ROBOTS_COMMENT_RE}', '', 'g')),
            '{W.ROBOTS_DIRECTIVE_RE}', 2), '')) as value
        from rb1),
rb3 as (select * from rb2
        where directive in ('user-agent', 'allow', 'disallow')),
rbg as (select *, case when directive = 'user-agent' and coalesce(
               lag(directive = 'user-agent')
                   over (partition by host order by ln),
               false) = false then 1 else 0 end as ng from rb3),
rbi as (select *, sum(ng) over (partition by host order by ln) as group_id
        from rbg),
rbs as (select *, max(case when directive = 'user-agent' and value = '*'
                      then 1 else 0 end)
               over (partition by host, group_id) as star from rbi),
rbrules as (select host, cast(ln as int) as rule_ln,
                   directive = 'allow' as allow, value as prefix,
                   cast(length(value) as int) as prefix_len
            from rbs
            where directive <> 'user-agent' and star = 1 and value <> '')"""
    robots_ctes = f"""{ctes},
{robots_tail}"""
    _ORACLES["robots_rules"] = f"""
with {robots_ctes}
select host, rule_ln, allow, prefix, prefix_len from rbrules
"""
    _ORACLES["robots_filter"] = f"""
with {robots_ctes},
up as (select doc_id, lower(hst) as host,
              case when pth = '' then '/' else pth end as path from parsed),
mt as (select u.doc_id, u.host, u.path, r.prefix, r.prefix_len, r.allow
       from up u left join rbrules r
         on u.host = r.host and starts_with(u.path, r.prefix)),
best as (select *, row_number() over (partition by doc_id order by
              case when prefix is null then 1 else 0 end,
              prefix_len desc,
              case when allow then 0 else 1 end) as rn from mt)
select doc_id, host, path,
       coalesce(allow, true) as allowed,
       coalesce(prefix, '') as win_prefix,
       cast(coalesce(prefix_len, 0) as int) as win_len
from best where rn = 1
"""
    # robots_sitemaps twin: the rb2 line table before the rule-directive
    # filter; Sitemap records are global, absolute-URL values only.
    _ORACLES["robots_sitemaps"] = f"""
with {robots_ctes}
select host, cast(ln as int) as line_no, value as sitemap_url
from rb2
where directive = 'sitemap'
  and regexp_matches(value, '{hsq(H.ABS_URL_RE)}')
"""
    # html_meta / canonical_dedup twins: regex constants interpolated from
    # operators/html.py; normalization via the same hnorm chain; canonical
    # resolution mirrors the html_links three-branch rule.
    meta_desc = (
        "coalesce("
        f"nullif(regexp_extract(h, '{hsq(H.META_DESC_DQ_RE)}', 1), ''), "
        f"nullif(regexp_extract(h, '{hsq(H.META_DESC_SQ_RE)}', 1), ''), "
        f"regexp_extract(h, '{hsq(H.META_DESC_REV_RE)}', 1), '')"
    )
    meta_canon = (
        "coalesce("
        f"nullif(regexp_extract(h, '{hsq(H.CANON_DQ_RE)}', 1), ''), "
        f"regexp_extract(h, '{hsq(H.CANON_REV_RE)}', 1), '')"
    )
    meta_ctes = f"""{ctes},
mpg as (select u.doc_id, u.url, {_META_SYNTH} as html from urls u),
mh as (select doc_id, url,
              regexp_replace(html, '{hsq(H.COMMENT_RE)}', ' ', 'g') as h,
              lower(regexp_extract(url, '{URL_RE}', 1)) as psch,
              lower(regexp_extract(url, '{URL_RE}', 2)) as phst
       from mpg),
mfx as (select doc_id, url, psch, phst,
        coalesce(regexp_extract(h, '{hsq(H.HTML_LANG_RE)}', 1), '') as lang,
        {hnorm(f"regexp_extract(h, '{hsq(H.TITLE_RE)}', 1)")} as title,
        {hnorm(meta_desc)} as description,
        coalesce(regexp_extract(h, '{hsq(H.OG_IMAGE_RE)}', 1), '')
            as og_image,
        {meta_canon} as canon
        from mh),
mmeta as (select doc_id, url, lang, title, description, og_image,
        case when regexp_matches(canon, '{hsq(H.ABS_URL_RE)}') then canon
             when starts_with(canon, '//') then psch || ':' || canon
             when starts_with(canon, '/')
                  then psch || '://' || phst || canon
             else '' end as canonical
        from mfx)"""
    _ORACLES["html_meta"] = f"""
with {meta_ctes}
select doc_id, url, lang, title, description, og_image, canonical
from mmeta
"""
    _ORACLES["canonical_dedup"] = f"""
with {meta_ctes},
ck as (select m.doc_id,
              case when m.canonical <> '' then m.canonical
                   else n.norm_url end as dedup_key,
              case when m.canonical <> '' then 1 else 0 end as is_canon
       from mmeta m join normed n using (doc_id))
select dedup_key, min(doc_id) as keep_doc_id,
       cast(count(*) - 1 as bigint) as n_dupes,
       cast(sum(is_canon) as bigint) as n_canonical
from ck group by dedup_key
"""
    # sitemap twins: tag regexes interpolated from operators/web.py; the
    # per-host xml is the same ordered string_agg over normed; loc
    # normalization for the seeds anti-join reuses the URL_RE parse.
    def _ent_sql(v: str) -> str:
        for ent, rep in H.ENTITY_RULES:
            v = f"replace({v}, '{hsq(ent)}', '{hsq(rep)}')"
        return v

    def _norm_of(c: str) -> str:
        sch = f"lower(regexp_extract({c}, '{URL_RE}', 1))"
        hst = f"lower(regexp_extract({c}, '{URL_RE}', 2))"
        prt = f"regexp_extract({c}, '{URL_RE}', 3)"
        pth = f"regexp_replace(regexp_extract({c}, '{URL_RE}', 4), '/+$', '')"
        qry = f"regexp_extract({c}, '{URL_RE}', 5)"
        qkeep = f"list_filter(string_split({qry}, '&'), {keep})"
        return (
            f"{sch} || '://' || {hst}"
            f" || case when {prt} = '' then ''"
            f" when {sch} = 'http' and {prt} = '80' then ''"
            f" when {sch} = 'https' and {prt} = '443' then ''"
            f" else ':' || {prt} end"
            f" || case when {pth} = '' then '/' else {pth} end"
            f" || case when len({qkeep}) > 0"
            f" then '?' || array_to_string(list_sort({qkeep}), '&')"
            f" else '' end"
        )

    sm_ctes = f"""{ctes},
se as (select doc_id, host, norm_url,
       case when doc_id % 3 = 0
            then '<url><loc> ' || norm_url || ' </loc><lastmod>2026-07-1'
                 || cast(doc_id % 9 as string)
                 || '</lastmod><priority>0.8</priority></url>'
            when doc_id % 3 = 1
            then '<url><loc>https://' || host || '/fresh/p-'
                 || cast(doc_id % 200 as string)
                 || '&amp;x</loc><changefreq>daily</changefreq></url>'
            else '<url><priority>0.3</priority></url>' end as entry
       from normed),
sm as (select host, '<urlset>' || string_agg(entry, '' order by doc_id)
              || '</urlset>' as sitemap_xml
       from se group by host),
sb0 as (select host,
               regexp_extract_all(sitemap_xml,
                                  '{hsq(W.SITEMAP_URL_BLOCK_RE)}') as bs
        from sm),
sb as (select host, unnest(bs) as b,
              cast(unnest(range(0, len(bs))) as int) as entry_pos from sb0),
sp as (select host, entry_pos,
       {_ent_sql(f"regexp_extract(b, '{hsq(W.SITEMAP_LOC_RE)}', 1)")} as loc,
       regexp_extract(b, '{hsq(W.SITEMAP_LASTMOD_RE)}', 1) as lastmod,
       regexp_extract(b, '{hsq(W.SITEMAP_CHANGEFREQ_RE)}', 1) as changefreq,
       coalesce(cast(round(try_cast(
           regexp_extract(b, '{hsq(W.SITEMAP_PRIORITY_RE)}', 1) as double)
           * 100, 0) as int), {W.SITEMAP_DEFAULT_PRIORITY_PCT})
           as priority_pct
       from sb)"""
    _ORACLES["sitemap_urls"] = f"""
with {sm_ctes}
select host, entry_pos, loc, lastmod, changefreq, priority_pct
from sp where loc <> ''
"""
    _ORACLES["sitemap_seeds"] = f"""
with {sm_ctes},
cand as (select {_norm_of('loc')} as norm_url, host, priority_pct
         from sp where loc <> ''),
cagg as (select norm_url, host, max(priority_pct) as priority_pct
         from cand group by norm_url, host)
select * from cagg
where norm_url not in (select norm_url from normed)
"""
    # recrawl_diff twin: same per-side min-fp collapse on the normalized
    # URL, same full-outer status derivation.
    _ORACLES["recrawl_diff"] = f"""
with {ctes},
oldg as (select norm_url,
                md5('c|' || cast(doc_id % 200 as string)) as fp
         from normed where doc_id % 200 < 150),
newg as (select norm_url,
                md5('c|' || cast(doc_id % 200 as string)
                    || case when (doc_id % 200) % 5 = 0
                            then '|v2' else '' end) as fp
         from normed where doc_id % 200 >= 50),
o as (select norm_url, min(fp) as old_fp from oldg group by norm_url),
n as (select norm_url, min(fp) as new_fp from newg group by norm_url)
select coalesce(o.norm_url, n.norm_url) as norm_url,
       case when o.norm_url is null then 'new'
            when n.norm_url is null then 'gone'
            when o.old_fp = n.new_fp then 'unchanged'
            else 'changed' end as status,
       coalesce(o.old_fp, '') as old_fp,
       coalesce(n.new_fp, '') as new_fp
from o full outer join n on o.norm_url = n.norm_url
"""
    # domain_cap twin: the two-stage prune is exactly a per-domain
    # row_number QUALIFY — the oracle expresses the SEMANTICS, the Spark
    # plan the bounded-window strategy.
    _ORACLES["domain_cap"] = f"""
with {dom_ctes},
rk as (select domain, doc_id,
              row_number() over (partition by domain
                                 order by n_chars desc, doc_id asc) as rank
       from dom)
select domain, doc_id, cast(rank as int) as rank
from rk where rank <= 3
"""
    # crawl_plan twin: the whole planning chain — sitemap seeds → robots
    # verdict → frontier slots — composed from the three stage twins
    # (sm_ctes carries the sitemap parse, robots_tail the rule table).
    _ORACLES["crawl_plan"] = f"""
with {sm_ctes},
{robots_tail},
cand as (select {_norm_of('loc')} as norm_url, host, priority_pct
         from sp where loc <> ''),
cagg as (select norm_url, host, max(priority_pct) as priority_pct
         from cand group by norm_url, host),
seeds as (select * from cagg
          where norm_url not in (select norm_url from normed)),
sv as (select s.norm_url, s.host, s.priority_pct,
              lower(regexp_extract(s.norm_url, '{URL_RE}', 2)) as vhost,
              case when regexp_extract(s.norm_url, '{URL_RE}', 4) = ''
                   then '/' else regexp_extract(s.norm_url, '{URL_RE}', 4)
                   end as path
       from seeds s),
mt2 as (select v.*, r.prefix, r.prefix_len, r.allow
        from sv v left join rbrules r
          on v.vhost = r.host and starts_with(v.path, r.prefix)),
best2 as (select *, row_number() over (partition by norm_url order by
              case when prefix is null then 1 else 0 end,
              prefix_len desc,
              case when allow then 0 else 1 end) as rn from mt2),
alw as (select norm_url, host, priority_pct from best2
        where rn = 1 and coalesce(allow, true)),
fr2 as (select *,
               cast(cast(('0x' || substr(md5(norm_url), 1, 12)) as bigint)
                    % {fp_buckets} as int) as bucket,
               md5(norm_url) as o
        from alw),
frk2 as (select *, row_number() over (partition by host, bucket
                                      order by o, norm_url) as rnk
         from fr2)
select norm_url, host, cast(priority_pct as int) as priority_pct, bucket,
       cast(((rnk - 1) // {fp_host}) * {fp_buckets} + bucket as bigint)
           as slot
from frk2
"""
    # domain_pagerank twin: 10 unrolled integer fixed-point iterations —
    # all-bigint arithmetic (sums cast back from hugeint) so the ranks
    # hash-match Spark's bit-for-bit; damping 85/100, scale 1e9, dangling
    # mass redistributed uniformly each round (graph.py pagerank).
    scale, damp = 10**9, 85
    pr_iters = ""
    for i in range(1, 11):
        p = f"r{i - 1}"
        pr_iters += f""",
d{i} as materialized (select cast(coalesce(sum(rank), 0) as bigint) as s
         from {p} left join pro on {p}.node = pro.src
         where pro.src is null),
i{i} as materialized (select e.dst as node,
                cast(sum((r.rank * {damp}) // (100 * o.d)) as bigint) as s
         from pr_edges e join {p} r on e.src = r.node
         join pro o on o.src = e.src
         group by e.dst),
r{i} as materialized (select n.node,
                cast({scale * (100 - damp)} // (100 * (select c from prc))
                     + ((select s from d{i}) * {damp})
                       // (100 * (select c from prc))
                     + coalesce(i{i}.s, 0) as bigint) as rank
         from prn n left join i{i} on n.node = i{i}.node)"""
    _ORACLES["domain_pagerank"] = f"""
with {dom_ctes},
tgt as (select d.doc_id,
               (d.doc_id * 31 + k.k * 101)
                   % (select count(*) from documents) as dst_doc
        from documents d, (values (1), (2), (3)) as k(k)),
pr_edges as materialized (select distinct s.domain as src, t.domain as dst
             from tgt join dom s using (doc_id)
             join dom t on tgt.dst_doc = t.doc_id
             where s.domain <> t.domain),
prn as materialized (select src as node from pr_edges
                     union select dst from pr_edges),
prc as materialized (select count(*) as c from prn),
pro as materialized (select src, count(*) as d from pr_edges group by src),
r0 as materialized (select node,
              cast({scale} // (select c from prc) as bigint) as rank
       from prn){pr_iters}
select node as domain, rank from r10
"""

    # domain_trustrank twin: same unrolled integer fixed point, but the
    # initial mass, (1-d) teleport, and dangling re-entry land on the
    # .org/.gov.uk seed domains only (graph.py trustrank); non-seeds
    # accumulate trust exclusively via in-links.
    tr_iters = ""
    for i in range(1, 11):
        p = f"t{i - 1}"
        tr_iters += f""",
td{i} as materialized (select cast(coalesce(sum(rank), 0) as bigint) as s
         from {p} left join pro on {p}.node = pro.src
         where pro.src is null),
ti{i} as materialized (select e.dst as node,
                cast(sum((r.rank * {damp}) // (100 * o.d)) as bigint) as s
         from pr_edges e join {p} r on e.src = r.node
         join pro o on o.src = e.src
         group by e.dst),
t{i} as materialized (select n.node,
                cast(case when sd.node is not null
                     then {scale * (100 - damp)} // (100 * (select c from trc))
                          + ((select s from td{i}) * {damp})
                            // (100 * (select c from trc))
                     else 0 end
                     + coalesce(ti{i}.s, 0) as bigint) as rank
         from prn n left join ti{i} on n.node = ti{i}.node
         left join trs sd on n.node = sd.node)"""
    _ORACLES["domain_trustrank"] = f"""
with {dom_ctes},
tgt as (select d.doc_id,
               (d.doc_id * 31 + k.k * 101)
                   % (select count(*) from documents) as dst_doc
        from documents d, (values (1), (2), (3)) as k(k)),
pr_edges as materialized (select distinct s.domain as src, t.domain as dst
             from tgt join dom s using (doc_id)
             join dom t on tgt.dst_doc = t.doc_id
             where s.domain <> t.domain),
prn as materialized (select src as node from pr_edges
                     union select dst from pr_edges),
pro as materialized (select src, count(*) as d from pr_edges group by src),
trs as materialized (select node from prn
                     where node like '%.org' or node like '%.gov.uk'),
trc as materialized (select count(*) as c from trs),
t0 as materialized (select n.node,
              cast(case when sd.node is not null
                   then {scale} // (select c from trc) else 0 end
                   as bigint) as rank
       from prn n left join trs sd on n.node = sd.node){tr_iters}
select node as domain, rank from t10
"""

    # domain_hits twin: 8 unrolled HITS iterations (16 half-steps) over
    # the same synthesized edge set — each half-step is an exact bigint
    # in-/out-sum then L1 normalization score·scale // total, with the
    # multiply widened through hugeint exactly where Spark widens through
    # decimal(38,0) (graph.py hits); nodes missing from a half-step's raw
    # table coalesce to 0 on both engines.
    hits_iters = ""
    for i in range(1, 9):
        p = f"hh{i - 1}"
        hits_iters += f""",
har{i} as materialized (select e.dst as node,
                cast(sum(h.hub) as bigint) as raw
         from pr_edges e join {p} h on e.src = h.node group by e.dst),
hat{i} as materialized (select cast(sum(raw) as bigint) as t from har{i}),
ha{i} as materialized (select n.node,
                cast(coalesce((cast(ar.raw as hugeint) * {scale})
                              // (select t from hat{i}), 0) as bigint)
                    as auth
         from prn n left join har{i} ar on n.node = ar.node),
hhr{i} as materialized (select e.src as node,
                cast(sum(a.auth) as bigint) as raw
         from pr_edges e join ha{i} a on e.dst = a.node group by e.src),
hht{i} as materialized (select cast(sum(raw) as bigint) as t from hhr{i}),
hh{i} as materialized (select n.node,
                cast(coalesce((cast(hr.raw as hugeint) * {scale})
                              // (select t from hht{i}), 0) as bigint)
                    as hub
         from prn n left join hhr{i} hr on n.node = hr.node)"""
    _ORACLES["domain_hits"] = f"""
with {dom_ctes},
tgt as (select d.doc_id,
               (d.doc_id * 31 + k.k * 101)
                   % (select count(*) from documents) as dst_doc
        from documents d, (values (1), (2), (3)) as k(k)),
pr_edges as materialized (select distinct s.domain as src, t.domain as dst
             from tgt join dom s using (doc_id)
             join dom t on tgt.dst_doc = t.doc_id
             where s.domain <> t.domain),
prn as materialized (select src as node from pr_edges
                     union select dst from pr_edges),
prc as materialized (select count(*) as c from prn),
hh0 as materialized (select node,
              cast({scale} // (select c from prc) as bigint) as hub
       from prn){hits_iters}
select h.node as domain, h.hub, a.auth
from hh8 h join ha8 a on h.node = a.node
"""

    # domain_communities twin: 5 unrolled SYNCHRONOUS label-propagation
    # rounds over the same synthesized edge set — per round a neighbor
    # label histogram and a (count desc, label asc) row_number argmax,
    # no-neighbor nodes coalesce to their own id (graph.py
    # label_propagation's determinism contract, mirrored exactly).
    lpa_iters = ""
    for i in range(1, 6):
        p = f"l{i - 1}"
        lpa_iters += f""",
h{i} as (select und.u, {p}.label, count(*) as c
         from und join {p} on und.v = {p}.node
         group by und.u, {p}.label),
b{i} as (select u as node, label from (
           select u, label, row_number() over (partition by u
                order by c desc, label asc) as rn from h{i}) q
         where rn = 1),
l{i} as materialized (select n.node, coalesce(b.label, n.node) as label
         from lnodes n left join b{i} b using (node))"""
    _ORACLES["domain_communities"] = f"""
with {dom_ctes},
tgt as (select d.doc_id,
               (d.doc_id * 31 + k.k * 101)
                   % (select count(*) from documents) as dst_doc
        from documents d, (values (1), (2), (3)) as k(k)),
raw_edges as materialized (select distinct s.domain as src, t.domain as dst
             from tgt join dom s using (doc_id)
             join dom t on tgt.dst_doc = t.doc_id),
und as materialized (select src as u, dst as v from raw_edges
                     where src <> dst
                     union
                     select dst, src from raw_edges where src <> dst),
lnodes as materialized (select src as node from raw_edges
                        union select dst from raw_edges),
l0 as (select node, node as label from lnodes){lpa_iters}
select l5.node as domain, l5.label as community, s.community_size
from l5 join (select label, cast(count(*) as bigint) as community_size
              from l5 group by label) s using (label)
"""

    # link_features twin: degrees/reciprocity/self-loop over the same
    # deduped edge set; integral reciprocity share via `//`.
    _ORACLES["link_features"] = f"""
with {dom_ctes},
tgt as (select d.doc_id,
               (d.doc_id * 31 + k.k * 101)
                   % (select count(*) from documents) as dst_doc
        from documents d, (values (1), (2), (3)) as k(k)),
raw_edges as materialized (select distinct s.domain as src, t.domain as dst
             from tgt join dom s using (doc_id)
             join dom t on tgt.dst_doc = t.doc_id),
e as materialized (select src, dst from raw_edges where src <> dst),
nodes as (select src as node from raw_edges
          union select dst from raw_edges),
od as (select src as node, cast(count(*) as bigint) as out_deg
       from e group by src),
idg as (select dst as node, cast(count(*) as bigint) as in_deg
        from e group by dst),
rc as (select e1.src as node, cast(count(*) as bigint) as n_recip
       from e e1 join e e2 on e1.src = e2.dst and e1.dst = e2.src
       group by e1.src),
sl as (select distinct src as node, true as self_loop
       from raw_edges where src = dst)
select n.node as domain,
       coalesce(od.out_deg, 0) as out_deg,
       coalesce(idg.in_deg, 0) as in_deg,
       coalesce(rc.n_recip, 0) as n_recip,
       cast(case when coalesce(od.out_deg, 0) = 0 then 0
            else coalesce(rc.n_recip, 0) * 1000000 // od.out_deg end
            as bigint) as recip_micro,
       coalesce(sl.self_loop, false) as self_loop
from nodes n left join od using (node) left join idg using (node)
left join rc using (node) left join sl using (node)
"""

    # line_dedup twin: domain-scoped repeated-line boilerplate removal
    # (dedup.py line_boilerplate_filter) over the planted chrome lines —
    # same synthesis ((c)-header / footer / doc_id%97 rare line), same
    # trim-keyed distinct-per-doc count, same >= 3 threshold.
    _ORACLES["line_dedup"] = f"""
with {dom_ctes},
txt as (select dm.doc_id,
               dm.domain,
               '(c) ' || dm.domain || ' rights' || chr(10) || d.text
               || chr(10) || 'home | about | ' || dm.domain
               || case when dm.doc_id % 97 = 0
                       then chr(10) || 'rare-' || cast(dm.doc_id as varchar)
                       else '' end as text
        from dom dm join documents d using (doc_id)),
lns as (select doc_id, domain,
               unnest(string_split(text, chr(10))) as line,
               unnest(range(0, len(string_split(text, chr(10))))) as pos
        from txt),
perdoc as (select domain, doc_id,
                  unnest(list_distinct(list_filter(
                      list_transform(string_split(text, chr(10)),
                                     x -> trim(x)),
                      x -> x <> ''))) as line_key
           from txt),
boiler as (select domain, line_key from perdoc
           group by domain, line_key having count(*) >= 3),
flagged as (select l.doc_id, l.pos, l.line,
                   b.line_key is not null as is_b
            from lns l left join boiler b
              on l.domain = b.domain and trim(l.line) = b.line_key)
select doc_id,
       coalesce(string_agg(case when not is_b then line end,
                           chr(10) order by pos), '') as clean_text,
       cast(count(*) as bigint) as n_lines,
       cast(sum(case when is_b then 1 else 0 end) as bigint) as n_removed
from flagged group by doc_id
"""


_url_sqls()

# spam_mass twin: the two unrolled fixed-point twins as nested CTEs,
# L1-normalized to integer micro shares with the same exact `//`
# division, then differenced; only the audit ratio is float (round 6).
_ORACLES["spam_mass"] = f"""
with pr as ({_ORACLES["domain_pagerank"]}),
tr as ({_ORACLES["domain_trustrank"]}),
tp as (select sum(rank) as v from pr),
tt as (select sum(rank) as v from tr),
j as (select pr.domain as domain,
             cast(pr.rank * 1000000 // (select v from tp) as bigint)
                 as pr_micro,
             cast(coalesce(tr.rank, 0) * 1000000 // (select v from tt)
                  as bigint) as tr_micro
      from pr left join tr on pr.domain = tr.domain)
select domain, pr_micro, tr_micro,
       pr_micro - tr_micro as mass_micro,
       case when pr_micro = 0 then 0.0
            else round(cast(pr_micro - tr_micro as double) / pr_micro, 6)
            end as rel_mass
from j
"""

# hocr_export twin: rebuilds hocr_pages' exact output string — ids,
# word-box hulls, the fixed decimal(20,6) baselines (flat lines: slope
# 0.000000, intercept = b − hull_y2, an integer here so the twin renders
# it as cast(n as varchar) || '.000000'; the sloped paragraph's
# 0.500000/8.000000 are constants), entity escapes, the two
# conditional x_font branches, and (r4) the %4-doc ocr_photo div at
# par_idx 1 — which lands after par 1's </p> whether or not par 2
# exists (before-par-1 placement == after-last when there is one par) —
# from the same doc_id arithmetic as _HOCR_IR_SYNTH.
_ORACLES["hocr_export"] = """
with p as (select doc_id, cast(doc_id % 5 as varchar) as pg from documents)
select doc_id, cast(doc_id % 5 as int) as page_no,
 '<?xml version="1.0" encoding="UTF-8"?><html><body><div class="ocr_page" id="page_'
 || pg || '" title="bbox 0 0 2480 3508">'
 || '<p class="ocr_par" id="par_' || pg || '_1" lang="por">'
 || '<span class="ocr_line" id="line_' || pg || '_1_1" title="bbox 10 20 '
 || cast(150 + doc_id % 40 as varchar)
 || ' 52; baseline 0.000000 ' || cast(doc_id % 3 - 2 as varchar)
 || '.000000">'
 || '<span class="ocrx_word" id="word_' || pg
 || '_1_1_1" title="bbox 10 20 110 52; x_wconf '
 || cast(80 + doc_id % 20 as varchar)
 || (case when doc_id % 2 = 0 then '; x_font Times_New-Roman' else '' end)
 || '">Fish &amp; &lt;Chips&gt;</span>'
 || '<span class="ocrx_word" id="word_' || pg || '_1_1_2" title="bbox 120 20 '
 || cast(150 + doc_id % 40 as varchar) || ' 52; x_wconf 75">w'
 || cast(doc_id % 10 as varchar) || '</span>'
 || '</span>'
 || '<span class="ocr_line" id="line_' || pg
 || '_1_2" title="bbox 10 60 60 90; baseline 0.000000 '
 || cast(doc_id % 7 - 5 as varchar) || '.000000">'
 || '<span class="ocrx_word" id="word_' || pg
 || '_1_2_1" title="bbox 10 60 60 90; x_wconf '
 || cast(doc_id % 100 as varchar)
 || (case when doc_id % 3 = 0 then '; x_font f-g_h' else '' end)
 || '">line2w</span>'
 || '</span></p>'
 || (case when doc_id % 4 = 0 then
     '<div class="ocr_photo" id="photo_' || pg
     || '_1" title="bbox 200 300 ' || cast(200 + doc_id % 50 as varchar)
     || ' 360; x_source img-' || cast(doc_id as varchar)
     || '-1"></div>'
    else '' end)
 || (case when doc_id % 2 = 0 then
     '<p class="ocr_par" id="par_' || pg || '_2" lang="por">'
     || '<span class="ocr_line" id="line_' || pg
     || '_2_1" title="bbox 0 400 80 430; baseline 0.500000 8.000000">'
     || '<span class="ocrx_word" id="word_' || pg
     || '_2_1_1" title="bbox 0 400 10 430; x_wconf 93">sl0</span>'
     || '<span class="ocrx_word" id="word_' || pg
     || '_2_1_2" title="bbox 20 400 40 430; x_wconf 94">sl1</span>'
     || '<span class="ocrx_word" id="word_' || pg
     || '_2_1_3" title="bbox 60 400 80 430; x_wconf 95">sl2</span>'
     || '</span></p>'
    else '' end)
 || '</div></body></html>' as hocr_xml
from p
"""

# dedup_canonical twin: the recursive-CTE components closure joined with
# the n_chars score, best row per cluster under the same (score desc,
# doc_id asc) order
_ORACLES["dedup_canonical"] = f"""
with comps as ({_ORACLES["dedup_components"]}),
sc as (select c.component, c.doc_id, c.cluster_size, d.n_chars as score
       from comps c join documents d using (doc_id))
select component, doc_id as keep_doc_id, cluster_size, score as best_score
from sc
qualify row_number() over (partition by component
                           order by score desc, doc_id asc) = 1
"""

# train_split twin: components closure → coalesce singleton components →
# the SAME _threshold_hex literals the Spark plan plants
_ORACLES["train_split"] = f"""
with comps as ({_ORACLES["dedup_components"]}),
j as (select d.doc_id, coalesce(c.component, d.doc_id) as component
      from documents d left join comps c using (doc_id)),
k as (select doc_id, component,
             substr(md5('42|' || cast(component as varchar)), 1, 12) as kk
      from j)
select doc_id, component,
       case when kk < '{SP._threshold_hex(0.8)}' then 'train'
            when kk < '{SP._threshold_hex(0.8 + 0.1)}' then 'val'
            else 'test' end as split
from k
"""

# shard_stats twin (jobs/shards.py): the pack_sequences twin wrapped with
# the md5 shard assignment and the order-invariant fingerprint sum
_ORACLES["shard_stats"] = f"""
with seqs as ({_ORACLES["pack_sequences"]}),
sh as (select cast(('0x' || substr(md5(source || '|'
                  || cast(win_id as varchar)), 1, 12)) as bigint) % 8
           as shard,
       n_tokens, text
       from seqs)
select shard,
       cast(count(*) as bigint) as n_seqs,
       cast(sum(n_tokens) as bigint) as n_tokens,
       cast(sum(cast(('0x' || substr(md5(text), 1, 12)) as bigint))
            as bigint) as fp_sum
from sh group by shard
"""


# bpe_merges / bpe_encode twins (operators/bpe.py): the 10 trainer rounds
# UNROLLED as CTE chains (the pagerank-unroll discipline) — all-integer
# counts, total (freq desc, lsym, rsym) tie-break, and the greedy
# leftmost fold restated as run-parity: occurrence positions of the
# round's pair, grouped into consecutive runs (pos − rank), merge the
# odd-ranked member of each run (a freshly merged symbol never re-merges,
# so greedy == take 1st/3rd/5th… of every overlap chain).  Exact — no
# float anywhere.
def _bpe_rounds_ctes(n_rounds: int) -> str:
    """CTE chain t, w, vw, v0, then per round p/pa/t/f/h/g/m/v{i+1}."""
    parts = [
        f"t as materialized (select doc_id, {_NT} as toks from documents)",
        "w as (select unnest(toks) as word from t)",
        "vw as materialized (select word, count(*) as freq from w group by word)",
        "v0 as materialized (select word, freq,"
        " list_append(regexp_extract_all(word, '.'), '</w>') as syms"
        " from vw)",
    ]
    for i in range(n_rounds):
        parts += [
            f"""p{i} as (select freq,
    unnest(syms[1:len(syms)-1]) as lsym,
    unnest(syms[2:len(syms)]) as rsym
  from v{i} where len(syms) >= 2)""",
            f"""pa{i} as (select lsym, rsym, sum(freq) as freq
  from p{i} group by lsym, rsym)""",
            f"""t{i} as materialized (select lsym, rsym, freq from pa{i}
  order by freq desc, lsym asc, rsym asc limit 1)""",
            f"""f{i} as (select word, freq, pos, s,
    lead(s) over (partition by word order by pos) as ns
  from (select word, freq,
               cast(unnest(range(0, len(syms))) as int) as pos,
               unnest(syms) as s
        from v{i}))""",
            f"""h{i} as materialized (select word, freq, pos, s, ns,
    case when s = (select lsym from t{i})
          and ns = (select rsym from t{i}) then 1 else 0 end as hit
  from f{i})""",
            f"""g{i} as (select word, pos,
    pos - row_number() over (partition by word order by pos) as grp
  from h{i} where hit = 1)""",
            f"""m{i} as materialized (select word, pos from
    (select word, pos,
            row_number() over (partition by word, grp order by pos) as ri
     from g{i})
  where ri % 2 = 1)""",
            f"""v{i + 1} as materialized (select word, any_value(freq) as freq,
    list(case when mm then s || ns else s end order by pos) as syms
  from (select h.word, h.freq, h.pos, h.s, h.ns,
               (m.pos is not null) as mm,
               (m2.pos is not null) as consumed
        from h{i} h
        left join m{i} m on m.word = h.word and m.pos = h.pos
        left join m{i} m2 on m2.word = h.word and m2.pos = h.pos - 1)
  where not consumed
  group by word)""",
        ]
    return ",\n".join(parts)


def _bpe_merges_sql(n_rounds: int = 10) -> str:
    tops = "\nunion all\n".join(
        f"select cast({i} as int) as rank, lsym, rsym,"
        f" lsym || rsym as merged, cast(freq as bigint) as freq from t{i}"
        for i in range(n_rounds)
    )
    return f"with {_bpe_rounds_ctes(n_rounds)}\n{tops}"


def _bpe_encode_sql(n_rounds: int = 10) -> str:
    return f"""with {_bpe_rounds_ctes(n_rounds)},
enc as (select word, len(syms) as n_sub from v{n_rounds}),
tok as (select doc_id, unnest(toks) as word from t)
select doc_id, count(*) as n_words,
       cast(sum(n_sub) as bigint) as n_bpe_tokens
from tok join enc using (word)
group by doc_id
"""


_ORACLES["bpe_merges"] = _bpe_merges_sql(10)
_ORACLES["bpe_encode"] = _bpe_encode_sql(10)


# pdf_export twin (sources/pdf.py pdf_documents): the generic build —
# per-word Tz/Tm/escape fragments, per-page content streams over a
# DuckDB-reconstructed IR, object scaffolding, and the xref prefix-sum
# offsets — translated HOF-for-HOF, sharing CATALOG_OBJ / FONT_OBJ /
# FONT_SIZE / the centi-point and micro-percent arithmetic with the
# operator (integer-exact on both engines, so the full file bytes
# hash-match).
def _pdf_export_sql() -> str:
    from ocr_spark.sources import pdf as P

    def fmt2(v: str) -> str:
        return (
            f"(cast(({v}) // 100 as varchar) || '.' || "
            f"lpad(cast(({v}) % 100 as varchar), 2, '0'))"
        )

    def fmt6(v: str) -> str:
        return (
            f"(cast(({v}) // 1000000 as varchar) || '.' || "
            f"lpad(cast(({v}) % 1000000 as varchar), 6, '0'))"
        )

    esc_c = (
        "case when c = chr(92) then chr(92) || chr(92) "
        "when c = '(' then chr(92) || '(' "
        "when c = ')' then chr(92) || ')' "
        "when ord(c) between 32 and 126 then c "
        "when ord(c) between 160 and 255 then chr(92) || "
        "cast(ord(c) // 64 as varchar) || "
        "cast((ord(c) // 8) % 8 as varchar) || "
        "cast(ord(c) % 8 as varchar) "
        "else '?' end"
    )
    esc = (
        "coalesce(list_aggregate(list_transform("
        f"regexp_extract_all(w.text, '.'), c -> {esc_c}), "
        "'string_agg', ''), '')"
    )
    tz = "(cast(w.box[3] - w.box[1] as bigint) * 5000000) // length(w.text)"
    x_cpt = f"cast(w.box[1] as bigint) * {P.CPT_PER_PX}"
    y_cpt = f"cast(floor((3508 - w.b) * {P.CPT_PER_PX}) as bigint)"
    word = (
        f"({fmt6(tz)} || ' Tz 1 0 0 1 ' || {fmt2(x_cpt)} || ' ' || "
        f"{fmt2(y_cpt)} || ' Tm (' || {esc} || ') Tj' || chr(10))"
    )

    def content(ir_expr: str) -> str:
        return (
            f"('BT' || chr(10) || '/F1 {P.FONT_SIZE} Tf 3 Tr' || chr(10)"
            f" || coalesce(list_aggregate(list_transform(list_filter("
            f"flatten(flatten({ir_expr})), w -> length(w.text) > 0), "
            f"w -> {word}), 'string_agg', ''), '') || 'ET')"
        )

    def w(text: str, box: str, b: str) -> str:
        return f"struct_pack(text := {text}, box := {box}, b := {b})"

    cover = (
        "[[[" + w("'cover'", "[100.0, 100.0, 300.0, 140.0]", "136.0") + "]]]"
    )
    b1 = "cast(50 + doc_id % 3 as double)"
    p1 = (
        "[["
        + w("'Fish & <Chips>'", "[10.0, 20.0, 110.0, 52.0]", b1)
        + ", "
        + w(
            "('w' || cast(doc_id % 10 as varchar))",
            "[120.0, 20.0, cast(150 + doc_id % 40 as double), 52.0]",
            b1,
        )
        + "], ["
        + w("'line2w'", "[10.0, 60.0, 60.0, 90.0]",
            "cast(85 + doc_id % 7 as double)")
        + "]]"
    )
    p2 = (
        "[["
        + w("'sl0'", "[0.0, 400.0, 10.0, 430.0]", "440.5")
        + ", "
        + w("'sl1'", "[20.0, 400.0, 40.0, 430.0]", "453.0")
        + ", "
        + w("'sl2'", "[60.0, 400.0, 80.0, 430.0]", "473.0")
        + "]]"
    )
    main = f"case when doc_id % 2 = 0 then [{p1}, {p2}] else [{p1}] end"

    nl = "' || chr(10) || '"
    catalog = "('" + P.CATALOG_OBJ.replace("\n", nl) + "')"
    font = "('" + P.FONT_OBJ.replace("\n", nl) + "')"
    mb = (
        f"{P.CPT_PER_PX * 2480 // 100}.{P.CPT_PER_PX * 2480 % 100:02d} "
        f"{P.CPT_PER_PX * 3508 // 100}.{P.CPT_PER_PX * 3508 % 100:02d}"
    )
    kids = (
        "coalesce(list_aggregate(list_transform(range(len(pages)), "
        "i -> cast(4 + 2 * i as varchar) || ' 0 R'), 'string_agg', ' '),"
        " '')"
    )
    pages_obj = (
        f"('2 0 obj' || chr(10) || '<< /Type /Pages /Kids [' || {kids} || "
        "'] /Count ' || cast(len(pages) as varchar) || ' >>' || chr(10) "
        "|| 'endobj' || chr(10))"
    )
    page_obj = (
        "(cast(4 + 2 * i as varchar) || ' 0 obj' || chr(10) || "
        f"'<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {mb}] "
        "/Resources << /Font << /F1 3 0 R >> >> /Contents ' || "
        "cast(5 + 2 * i as varchar) || ' 0 R >>' || chr(10) || "
        "'endobj' || chr(10))"
    )
    content_obj = (
        "(cast(5 + 2 * i as varchar) || ' 0 obj' || chr(10) || "
        "'<< /Length ' || cast(length(pages[i + 1].content) as varchar) "
        "|| ' >>' || chr(10) || 'stream' || chr(10) || "
        "pages[i + 1].content || chr(10) || 'endstream' || chr(10) || "
        "'endobj' || chr(10))"
    )
    hlen = len(P.HEADER)
    off = (
        f"({hlen} + coalesce(list_sum(list_transform(o2[1:j], "
        "x -> length(x))), 0))"
    )
    xref = (
        "coalesce(list_aggregate(list_transform(range(len(o2)), j -> "
        f"lpad(cast({off} as varchar), 10, '0') || ' 00000 n ' || "
        "chr(10)), 'string_agg', ''), '')"
    )
    total = (
        f"({hlen} + coalesce(list_sum(list_transform(o2, "
        "x -> length(x))), 0))"
    )
    return f"""
with ir as materialized (
  select doc_id,
         [struct_pack(page_no := 0, content := {content(cover)}),
          struct_pack(page_no := 1, content := {content(main)})] as pages
  from documents),
asm as materialized (
  select doc_id, pages,
         [{catalog}, {pages_obj}, {font}]
         || flatten(list_transform(range(len(pages)),
                i -> [{page_obj}, {content_obj}])) as o2
  from ir)
select doc_id, cast(len(pages) as int) as n_pages,
       '%PDF-1.4' || chr(10)
       || coalesce(list_aggregate(o2, 'string_agg', ''), '')
       || 'xref' || chr(10) || '0 ' || cast(len(o2) + 1 as varchar)
       || chr(10) || '0000000000 65535 f ' || chr(10)
       || {xref}
       || 'trailer' || chr(10) || '<< /Size '
       || cast(len(o2) + 1 as varchar) || ' /Root 1 0 R >>' || chr(10)
       || 'startxref' || chr(10) || cast({total} as varchar) || chr(10)
       || '%%EOF' || chr(10) as pdf
from asm
"""


_ORACLES["pdf_export"] = _pdf_export_sql()


# size_humanize twin: the SAME builder (functions/units.py
# size_human_sql) in the duckdb dialect — shared integer
# round-half-even arithmetic, so even the .005 exact-tie sizes match.
def _size_humanize_sql() -> str:
    from ocr_spark.functions.units import size_human_sql as sh

    return f"""
with b as (select doc_id,
                  strlen(text) as b_small,
                  128 + 256 * (doc_id % 2000) as b_tie,
                  strlen(text) * 16384 as b_mb,
                  1073741824 + doc_id * 1048576 as b_gb
           from documents)
select doc_id, b_tie,
       {sh("b_small", "duckdb")} as h_small,
       {sh("b_tie", "duckdb")} as h_tie,
       {sh("b_mb", "duckdb")} as h_mb,
       {sh("b_gb", "duckdb")} as h_gb
from b
"""


_ORACLES["size_humanize"] = _size_humanize_sql()


# ocr_eta twin: same shared builder, duckdb dialect.
def _ocr_eta_sql() -> str:
    from ocr_spark.functions.units import ocr_eta_sql as oe

    return f"""
select doc_id, cast(doc_id % 997 as bigint) as n_pages,
       {oe("cast(doc_id % 997 as bigint)", "duckdb")} as eta
from documents
"""


_ORACLES["ocr_eta"] = _ocr_eta_sql()


# path_safety twin: same shared builders, duckdb dialect.
def _path_safety_sql() -> str:
    from ocr_spark.functions import paths as PTH

    return f"""
with b as (select doc_id,
 case cast(doc_id % 8 as int)
  when 0 then concat('docs/folder', cast(doc_id % 10 as varchar),
              '/page_', cast(doc_id % 10 as varchar), '.png')
  when 1 then concat('_files/_private_spaces/u',
              cast(doc_id % 10 as varchar), '/doc.pdf')
  when 2 then concat('_files/_tmp/chunk', cast(doc_id % 10 as varchar))
  when 3 then 'docs/_reserved/page.png'
  when 4 then concat('docs/f/page_', cast(doc_id % 10 as varchar), '$.png')
  when 5 then 'docs/ok/file$name.png'
  when 6 then 'docs/a.b.c/page.final.jpg'
  else concat('x_', cast(doc_id % 10 as varchar), '/page.png')
  end as path,
 case cast(doc_id % 4 as int)
  when 0 then 'good' when 1 then '_bad' when 2 then 'a/b'
  else concat('a', chr(92), 'b') end as name
 from documents)
select doc_id, path, name,
 {PTH.private_or_temp_sql("path", "duckdb")} as is_private_or_temp,
 {PTH.reserved_component_sql("path", "duckdb")} as has_reserved_component,
 {PTH.temp_page_sql("path", "duckdb")} as is_temp_page,
 {PTH.path_keep_sql("path", "duckdb")} as keep,
 {PTH.reserved_name_sql("name", "duckdb")} as name_reserved
from b
"""


_ORACLES["path_safety"] = _path_safety_sql()


# ner_entities twin: identical per-type patterns (the Java↔RE2-agreeing
# subset) via unnest(regexp_extract_all) per type, unioned and grouped.
def _ner_entities_sql() -> str:
    from ocr_spark.operators.ner import ENTITY_PATTERNS

    synth = """concat(text,
 case when doc_id % 3 = 0
      then concat(' Contact Ana Silva at user', cast(doc_id % 50 as varchar),
                  '@example.org on 2024-0', cast(1 + doc_id % 9 as varchar),
                  '-15.')
      else '' end,
 case when doc_id % 4 = 0
      then concat(' Host 10.0.', cast(doc_id % 256 as varchar),
                  '.7 ref 1234567', cast(doc_id % 10 as varchar), '.')
      else '' end)"""
    legs = "\nunion all\n".join(
        f"select doc_id, '{etype}' as etype, "
        f"unnest(regexp_extract_all(t, '{pat}', 0)) as entity from s"
        for etype, pat in ENTITY_PATTERNS
    )
    return f"""
with s as materialized (select doc_id, {synth} as t from documents),
e as ({legs})
select doc_id, etype, entity, cast(count(*) as bigint) as cnt
from e group by doc_id, etype, entity
"""


_ORACLES["ner_entities"] = _ner_entities_sql()


# Deterministic-sketch twins (r4): vocab_hll / vocab_heavy_hitters /
# doclen_quantile_sketch were rows-only in r1-r3 (engine-internal
# HLL++/datasketches/GK state); the r4 formulations are md5-keyed pure
# integer arithmetic, so each now has an EXACT twin.  The approximation
# contracts (rsd bound, CMS overestimate bound, sample rank error) stay
# in tests/test_sketches.py — an oracle checks engines agree, pytest
# checks the sketch is honest.
def _sketch_sqls() -> None:
    lc_list = "[" + ", ".join(str(x) for x in _HLL_LC) + "]"
    _ORACLES["vocab_hll"] = f"""
with w as (select source, unnest({_NT}) as word from documents),
h as (select source, md5(word) as hh from w),
r as (select source,
             cast(('0x' || substr(hh, 1, 2)) as int) as bucket,
             cast(('0x' || substr(hh, 3, 6)) as bigint) as v
      from h),
rho as (select source, bucket,
               cast(case when v = 0 then 25
                    else 25 - length(bin(v)) end as int) as rho
        from r),
regs as (select source, bucket, max(rho) as mj
         from rho group by source, bucket),
agg as (select source,
               sum(1::bigint << (25 - mj)) as s_obs,
               cast(count(*) as bigint) as n_obs
        from regs group by source),
est as (select source, cast(n_obs as int) as n_buckets_used,
               cast({_HLL_NUM} // ((s_obs + (256 - n_obs) * 33554432)
                    * 100000) as bigint) as raw_est
        from agg)
select source, n_buckets_used,
       cast(case when n_buckets_used < 256 and raw_est <= 640
            then list_extract({lc_list}, 256 - n_buckets_used)
            else raw_est end as bigint) as n_vocab_hll
from est order by source
"""
    _ORACLES["vocab_heavy_hitters"] = f"""
with wtok as (select source, unnest({_NT}) as word from documents),
occ as (select source, word, t.r
        from wtok, (values (0), (1), (2), (3)) t(r)),
sk as (select source, r,
              cast(('0x' || substr(md5(cast(r as varchar) || '|' || word),
                    1, 5)) as bigint) % 1024 as bucket,
              cast(count(*) as bigint) as c
       from occ group by source, r, bucket),
cand as (select distinct source, word from wtok),
cr as (select source, word, t.r,
              cast(('0x' || substr(md5(cast(t.r as varchar) || '|'
                    || word), 1, 5)) as bigint) % 1024 as bucket
       from cand, (values (0), (1), (2), (3)) t(r)),
est as (select c.source, c.word, min(s.c) as est_count
        from cr c join sk s
          on c.source = s.source and c.r = s.r and c.bucket = s.bucket
        group by c.source, c.word),
rk as (select *, row_number() over (partition by source
                                    order by est_count desc, word asc)
              as rk
       from est)
select source, cast(rk as int) as rk, word, est_count
from rk where rk <= 10 order by source, rk, word
"""
    _ORACLES["doclen_quantile_sketch"] = """
with s as (select lang, doc_id, n_chars from documents
           where cast(('0x' || substr(md5('qs|'
                 || cast(doc_id as varchar)), 1, 6)) as bigint) % 4 = 0),
r as (select lang, n_chars,
             row_number() over (partition by lang
                                order by n_chars, doc_id) as rn,
             count(*) over (partition by lang) as n
      from s)
select lang, cast(max(n) as bigint) as n_sample,
       cast(max(case when rn = (n + 1) // 2 then n_chars end)
            as bigint) as p50,
       cast(max(case when rn = (9 * n + 9) // 10 then n_chars end)
            as bigint) as p90,
       cast(max(case when rn = (99 * n + 99) // 100 then n_chars end)
            as bigint) as p99
from r group by lang order by lang
"""


_sketch_sqls()


# png_roundtrip twin: rebuild the md5-chain pixel buffer as a hex string
# (string_agg of md5 blocks in block order, truncated to 2·w·h chars —
# bytes.hex() and DuckDB md5() agree on lowercase) and fingerprint the
# same rendering the Spark kernel hashes AFTER decode(encode(·)).
_ORACLES["png_roundtrip"] = """
with p as (
  select doc_id, cast(16 + doc_id % 17 as int) as width,
         cast(16 + doc_id % 13 as int) as height,
         cast((doc_id // 20) % 5 as int) as png_filter
  from documents where doc_id % 20 = 0),
b as (
  select doc_id, width, height, png_filter, cast(t.i as int) as i
  from p, range(0, 60) t(i)
  where t.i < (width * height + 15) // 16),
hx as (
  select doc_id, width, height, png_filter,
         string_agg(
           md5(cast(doc_id as varchar) || ':' || cast(i as varchar)),
           '' order by i
         ) as hexstr
  from b group by doc_id, width, height, png_filter)
select doc_id, width, height, png_filter,
       true as roundtrip_ok,
       md5(substr(hexstr, 1, 2 * width * height)) as pixels_md5
from hx order by doc_id
"""


# jpeg_roundtrip twin: rebuild the blockwise-constant DC-exact pixel
# buffer as hex (block value bytes from the same md5 chain, each block
# byte rendered %02x and repeated 8x per row, rows ordered (y, block))
# and fingerprint the rendering the Spark kernel hashes AFTER
# decode(encode(.)).  p/v marked materialized (multi-referenced CTEs —
# CLAUDE.md DuckDB re-inlining rule).
_ORACLES["jpeg_roundtrip"] = """
with p as materialized (
  select doc_id, cast(3 + doc_id % 4 as int) as wb,
         cast(2 + doc_id % 3 as int) as hb
  from documents where doc_id % 20 = 10),
v as materialized (
  select doc_id, wb, hb, cast(t.i as int) as k,
         128 + 16 * ((cast(('0x' || substr(
             md5(cast(doc_id as varchar) || ':' || cast(t.i // 16 as varchar)),
             (t.i % 16) * 2 + 1, 2)) as int) % 9) - 4) as val
  from p, range(0, 24) t(i)
  where t.i < wb * hb),
px as (
  select p.doc_id, p.wb, p.hb, cast(y.i as int) as y, cast(j.i as int) as j,
         v.val
  from p
  cross join range(0, 32) y(i)
  cross join range(0, 6) j(i)
  join v on v.doc_id = p.doc_id and v.k = (y.i // 8) * p.wb + j.i
  where y.i < p.hb * 8 and j.i < p.wb),
hx as (
  select doc_id, wb, hb,
         string_agg(repeat(printf('%02x', val), 8), '' order by y, j) as hexstr
  from px group by doc_id, wb, hb)
select doc_id, cast(wb * 8 as int) as width, cast(hb * 8 as int) as height,
       true as roundtrip_ok, md5(hexstr) as pixels_md5
from hx order by doc_id
"""


# media_dims twin: the expected (format, width, height) arithmetic the
# Spark kernel encodes into real JPEG/GIF/BMP/WebP headers and parses
# back — a hash match proves the byte-level walk is exact.
_ORACLES["media_dims"] = """
select p.doc_id, f.fmt,
       case when f.fmt like 'webp%' then 'webp' else f.fmt end as parsed_fmt,
       cast(16 + (p.doc_id + 13 * f.fi) % 200 as int) as width,
       cast(12 + (p.doc_id + 17 * f.fi) % 150 as int) as height
from (select doc_id from documents where doc_id % 20 = 5) p
cross join (values ('jpeg', 0), ('gif', 1), ('bmp', 2),
                   ('webp_vp8x', 3), ('webp_vp8l', 4)) f(fmt, fi)
order by doc_id, fmt
"""


# avi_frames twin: every 3rd frame of each doc's 6+(d%5)-frame AVI at
# 20 fps (ts = 50·f ms); per frame the 2×3-block 16×24 DC-exact pixel
# buffer rebuilt from md5(d || '/' || f) bytes, hex-rendered 8x per
# block per row, fingerprinted the way the Spark kernel hashes the
# DECODED pixels.  p/v materialized (multi-referenced CTEs).
_ORACLES["avi_frames"] = """
with p as materialized (
  select doc_id, cast(6 + doc_id % 5 as int) as nf
  from documents where doc_id % 20 = 15),
fr as materialized (
  select doc_id, cast(t.i as int) as f
  from p, range(0, 10) t(i)
  where t.i < nf and t.i % 3 = 0),
v as materialized (
  select doc_id, f, cast(t.i as int) as k,
         128 + 16 * ((cast(('0x' || substr(
             md5(cast(doc_id as varchar) || '/' || cast(f as varchar)),
             t.i * 2 + 1, 2)) as int) % 9) - 4) as val
  from fr, range(0, 6) t(i)),
px as (
  select fr.doc_id, fr.f, cast(y.i as int) as y, cast(j.i as int) as j, v.val
  from fr
  cross join range(0, 16) y(i)
  cross join range(0, 3) j(i)
  join v on v.doc_id = fr.doc_id and v.f = fr.f
        and v.k = (y.i // 8) * 3 + j.i),
hx as (
  select doc_id, f,
         string_agg(repeat(printf('%02x', val), 8), '' order by y, j) as hexstr
  from px group by doc_id, f)
select doc_id, cast(f as int) as frame_no,
       cast(f * 50 as bigint) as ts_ms,
       24 as width, 16 as height,
       true as roundtrip_ok, md5(hexstr) as pixels_md5
from hx order by doc_id, frame_no
"""


# gif_roundtrip / bmp_roundtrip twins: the png_roundtrip md5-chain
# rebuild with the two codecs' dims/parity formulas — both codecs are
# lossless over the grayscale-palette domain, so hashing the SOURCE
# buffer equals hashing the DECODED pixels iff the codec round-trips.
_ORACLES["gif_roundtrip"] = """
with p as materialized (
  select doc_id, cast(16 + doc_id % 23 as int) as width,
         cast(16 + doc_id % 11 as int) as height
  from documents where doc_id % 20 = 4),
b as (
  select doc_id, width, height, cast(t.i as int) as i
  from p, range(0, 64) t(i)
  where t.i < (width * height + 15) // 16),
hx as (
  select doc_id, width, height,
         string_agg(
           md5(cast(doc_id as varchar) || ':' || cast(i as varchar)),
           '' order by i
         ) as hexstr
  from b group by doc_id, width, height)
select doc_id, width, height,
       (doc_id // 20) % 2 = 1 as interlaced,
       true as roundtrip_ok,
       md5(substr(hexstr, 1, 2 * width * height)) as pixels_md5
from hx order by doc_id
"""


_ORACLES["bmp_roundtrip"] = """
with p as materialized (
  select doc_id, cast(16 + doc_id % 19 as int) as width,
         cast(16 + doc_id % 7 as int) as height
  from documents where doc_id % 20 = 8),
b as (
  select doc_id, width, height, cast(t.i as int) as i
  from p, range(0, 50) t(i)
  where t.i < (width * height + 15) // 16),
hx as (
  select doc_id, width, height,
         string_agg(
           md5(cast(doc_id as varchar) || ':' || cast(i as varchar)),
           '' order by i
         ) as hexstr
  from b group by doc_id, width, height)
select doc_id, width, height,
       (doc_id // 20) % 2 = 1 as top_down,
       true as roundtrip_ok,
       md5(substr(hexstr, 1, 2 * width * height)) as pixels_md5
from hx order by doc_id
"""


# wav_features twin: rebuild the 24×8 int16 md5-chain samples as
# ('0x' || 4-hex-char chunk) − 32768 (big-endian u2 == hex chunk order,
# which is why the Spark kernel reads '>u2'), then the same integer
# Σ|x| / within-frame sign-change count / peak rollups.  PCM16 WAV
# round-trip is verbatim, so features over the decoded samples equal
# features over this SQL rebuild — hash match proves both the codec
# identity and the kernel arithmetic.
_ORACLES["wav_features"] = """
with p as (select doc_id from documents where doc_id % 25 = 0),
fr as (select doc_id, cast(t.i as int) as fi from p, range(0, 24) t(i)),
hx as (select doc_id, fi,
              md5(cast(doc_id as varchar) || ':' || cast(fi as varchar))
                  as h
       from fr),
sm as (select doc_id, fi, cast(t.j as int) as j,
              cast(('0x' || substr(h, 1 + 4 * t.j, 4)) as int) - 32768
                  as s
       from hx, range(0, 8) t(j)),
fagg as (select doc_id, fi,
                cast(sum(abs(s)) as bigint) as f_sum_abs,
                cast(max(abs(s)) as bigint) as f_peak
         from sm group by doc_id, fi),
zc as (select a.doc_id, a.fi,
              cast(count(*) filter (where (a.s >= 0) <> (b.s >= 0))
                   as bigint) as f_zc
       from sm a join sm b
         on a.doc_id = b.doc_id and a.fi = b.fi and b.j = a.j - 1
       group by a.doc_id, a.fi)
select f.doc_id,
       cast(24 as bigint) as n_frames,
       cast(16000 as int) as sample_rate,
       true as roundtrip_ok,
       cast(sum(f.f_sum_abs) as bigint) as sum_abs,
       cast(sum(z.f_zc) as bigint) as zero_crossings,
       cast(max(f.f_peak) as bigint) as peak
from fagg f join zc z on f.doc_id = z.doc_id and f.fi = z.fi
group by f.doc_id
order by f.doc_id
"""


# adopt_registry twin: the same synthetic uploads/generated registry as
# pure SQL — varchar max == binary memcmp max on ASCII payloads, the
# merge is an anti-join + union (JSON-key overwrite), the pending gate a
# left-join null test; humanized size via the SHARED
# functions/units.size_human_sql builder (duckdb dialect).  The .tmp
# upload and extension parsing are filtered before this construction on
# the Spark side and omitted here (filename semantics are
# pytest-gated, tests/test_adopt.py).
def _adopt_registry_sql() -> str:
    from ocr_spark.functions.units import size_human_sql as sh

    return f"""
with base as (select doc_id from documents),
d as (select doc_id from base where doc_id % 2 = 0 or doc_id % 3 = 0),
a as (
  select doc_id, 'txt' as format,
         'adopted-txt-' || cast(doc_id as varchar) || ';' as content
  from base where doc_id % 3 = 0
  union all
  select doc_id, 'txt',
         'zz-adopted-txt-' || cast(doc_id as varchar) || ';'
  from base where doc_id % 6 = 0
  union all
  select doc_id, 'pdf', 'adopted-pdf-' || cast(doc_id as varchar)
  from base where doc_id % 5 = 0),
adopted as (
  select doc_id, format, max(content) as content
  from a group by doc_id, format),
existing as (
  select doc_id, 'txt' as format,
         'generated-txt-' || cast(doc_id as varchar) as content
  from base where doc_id % 2 = 0),
merged as (
  select e.doc_id, e.format, e.content, 'generated' as origin
  from existing e
  where not exists (
    select 1 from adopted ad
    where ad.doc_id = e.doc_id and ad.format = e.format)
  union all
  select doc_id, format, content, 'adopted' as origin from adopted),
pairs as (
  select d.doc_id, f.format
  from d, (values ('txt'), ('pdf')) f(format))
select p.doc_id, p.format,
       coalesce(m.origin, 'missing') as origin,
       cast(strlen(m.content) as bigint) as n_bytes,
       case when m.content is null then null
            else md5(m.content) end as md5,
       case when m.content is null then null
            else {sh('strlen(m.content)', 'duckdb')} end as size_h,
       m.doc_id is null as will_generate
from pairs p
left join merged m on m.doc_id = p.doc_id and m.format = p.format
order by p.doc_id, p.format
"""


_ORACLES["adopt_registry"] = _adopt_registry_sql()


# chunk_assembly twin: same dedup + grouping; assembly md5 via ordered
# string_agg (fixture data is ASCII so varchar md5 == binary md5); the
# banker centi-percent is the shared integer round-half-even idiom.
_ORACLES["chunk_assembly"] = """
with rows0 as (
  select doc_id as file_id,
         cast(1 + doc_id % 4 as int) as total_count,
         cast(unnest(range(1, cast(2 + doc_id % 4 as bigint))) as int)
             as counter
  from documents),
rows1 as (
  select * from rows0
  where not (file_id % 5 = 0 and total_count > 1 and counter = 2)),
chunks as (
  select *, 'data-' || cast(file_id as varchar) || '-'
            || cast(counter as varchar) || ';' as data
  from rows1),
dedup as (
  select file_id, counter, max(data) as data,
         max(total_count) as total_count
  from chunks group by file_id, counter),
g as (
  select file_id, max(total_count) as total_count,
         cast(count(*) as bigint) as n_chunks,
         min(counter) as min_c, max(counter) as max_c,
         cast(sum(strlen(data)) as bigint) as n_bytes,
         md5(string_agg(data, '' order by counter)) as md5_all
  from dedup group by file_id),
q as (
  select *, (10000 * n_chunks) // total_count as q0,
         ((10000 * n_chunks) % total_count) * 2 as r2,
         (n_chunks = total_count and min_c = 1
          and max_c = total_count) as done
  from g)
select file_id, total_count, n_chunks,
       cast(q0 + case when r2 > total_count then 1
                      when r2 < total_count then 0
                      else q0 % 2 end as double) / 100.0 as progress_pct,
       done as complete,
       n_bytes,
       case when done then md5_all
            else cast(null as varchar) end as assembly_md5
from q
"""


# kmeans_clusters twin (operators/clustering.py kmeans_cluster): the 5
# Lloyd rounds UNROLLED — md5 seeding, round-12 argmax assignment (ties
# to lowest cluster), per-member int64 micro-unit contributions
# round(x·2^40) summed exactly, centroid = normalize(qsum/(2^40·n)) with
# empty/zero-norm clusters keeping their previous centroid, final
# assignment under the learned centroids with display sims rounded to 4.
# The quantize-immediately discipline makes every cross-engine float
# boundary a rounded one (the kmeans_assign / lm_quality idiom).
def _kmeans_clusters_sql(k: int = 8, iters: int = 5) -> str:
    q = "1099511627776"  # 2^40, the operator's _QSCALE
    parts = [
        """h as (select vec_id, embedding,
    md5('c|' || cast(vec_id as varchar)) as hh from embeddings)""",
        f"pick as (select * from h order by hh limit {k})",
        """en as (select vec_id,
    list_transform(ed, x -> x / (case when nrm = 0 then 1 else nrm end))
        as ed
  from (select vec_id, ed, sqrt(list_dot_product(ed, ed)) as nrm
        from (select vec_id,
                     list_transform(embedding, x -> cast(x as double)) as ed
              from embeddings)))""",
        """c0 as (select cast(row_number() over (order by hh) - 1 as int)
        as cluster,
    list_transform(ed, x -> x / (case when nrm = 0 then 1 else nrm end))
        as cd
  from (select hh, ed, sqrt(list_dot_product(ed, ed)) as nrm
        from (select hh,
                     list_transform(embedding, x -> cast(x as double)) as ed
              from pick)))""",
    ]
    for i in range(iters):
        parts += [
            f"""a{i} as (select vec_id, ed, cluster from
    (select e.vec_id, e.ed, c.cluster,
            row_number() over (partition by e.vec_id
                order by round(list_dot_product(e.ed, c.cd), 12) desc,
                         c.cluster asc) as rk
     from en e cross join c{i} c)
  where rk = 1)""",
            f"""q{i} as (select cluster, j,
    sum(cast(round(x * {q}) as bigint)) as qs
  from (select cluster,
               cast(unnest(range(0, len(ed))) as int) as j,
               unnest(ed) as x
        from a{i})
  group by cluster, j)""",
            f"""n{i} as (select cluster, count(*) as n
  from a{i} group by cluster)""",
            f"""s{i} as (select cluster, v,
    sqrt(list_dot_product(v, v)) as nrm
  from (select q.cluster,
               list(q.qs / ({q}.0 * n.n) order by q.j) as v
        from q{i} q join n{i} n using (cluster)
        group by q.cluster))""",
            f"""c{i + 1} as (select c.cluster,
    case when s.nrm > 0 then list_transform(s.v, x -> x / s.nrm)
         else c.cd end as cd
  from c{i} c left join s{i} s using (cluster))""",
        ]
    joined = ",\n".join(parts)
    return f"""with {joined},
fin as (select vec_id, cluster, s12 from
    (select e.vec_id, c.cluster,
            round(list_dot_product(e.ed, c.cd), 12) as s12,
            row_number() over (partition by e.vec_id
                order by round(list_dot_product(e.ed, c.cd), 12) desc,
                         c.cluster asc) as rk
     from en e cross join c{iters} c)
  where rk = 1)
select vec_id, cluster, round(s12, 4) as sim from fin
"""


_ORACLES["kmeans_clusters"] = _kmeans_clusters_sql(8, 5)


# jsonl_export twin (sources/exporters.py jsonl_records): identical
# escape chain, constants built from chr() on both sides (see
# _JSONL_SYNTH note); backslash first, then quote, \n, \r, \t.
def _jsonl_sql() -> str:
    def esc_chain(field: str) -> str:
        e = f"replace({field}, chr(92), chr(92) || chr(92))"
        e = f"replace({e}, chr(34), chr(92) || chr(34))"
        e = f"replace({e}, chr(10), chr(92) || 'n')"
        e = f"replace({e}, chr(13), chr(92) || 'r')"
        return f"replace({e}, chr(9), chr(92) || 't')"

    def jstr(field: str) -> str:
        return (
            f"case when {field} is null then 'null' "
            f"else chr(34) || {esc_chain(field)} || chr(34) end"
        )

    return f"""
with synth as (select doc_id, {_JSONL_SYNTH} as text, lang, source
               from documents)
select doc_id,
       '{{"doc_id":' ||
       case when doc_id is null then 'null'
            else cast(doc_id as varchar) end ||
       ',"text":' || {jstr('text')} ||
       ',"lang":' || {jstr('lang')} ||
       ',"source":' || {jstr('source')} || '}}' as value
from synth
"""


_ORACLES["jsonl_export"] = _jsonl_sql()


def _gopher_query(src: str, min_words: int | None = None) -> str:
    """gopher_rules twin body over any (doc_id, text) relation ``src``:
    same staged words/lines arrays, same length-diff symbol counts, same
    integer cross-multiplied thresholds from the frozen constants in
    operators/quality.py."""
    from ocr_spark.operators import quality as Q

    if min_words is None:
        min_words = Q.GOPHER_MIN_WORDS
    stop_sum = " + ".join(
        f"cast(list_contains(lwords, '{s}') as int)"
        for s in Q.GOPHER_STOPWORDS
    )
    bullets = ", ".join(f"'{b}'" for b in Q.GOPHER_BULLETS)
    return f"""
with t as (select doc_id, coalesce(text, '') as txt from {src}),
staged as (select doc_id,
  list_filter(regexp_split_to_array(trim(txt), '\\s+'),
              w -> w <> '') as words,
  string_split(txt, chr(10)) as lines,
  cast(length(txt) - length(replace(txt, '#', '')) as bigint) as n_hash,
  cast((length(txt) - length(replace(txt, '...', ''))) / 3
       + (length(txt) - length(replace(txt, '…', ''))) as bigint)
      as n_ellipsis
 from t),
lw as (select *, list_transform(words, w -> lower(w)) as lwords
       from staged),
counted as (select doc_id,
  cast(len(words) as bigint) as n_words,
  cast(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
       as bigint) as sum_word_len,
  cast(len(lines) as bigint) as n_lines,
  cast(len(list_filter(lines,
       l -> substr(ltrim(l), 1, 1) in ({bullets}))) as bigint)
      as n_bullet_lines,
  cast(len(list_filter(lines,
       l -> ends_with(rtrim(l), '...') or ends_with(rtrim(l), '…')))
       as bigint) as n_ellipsis_lines,
  cast(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
       as bigint) as n_alpha_words,
  n_hash, n_ellipsis,
  cast({stop_sum} as bigint) as n_stop_hits
 from lw),
flagged as (select *,
  (n_words >= {int(min_words)} and n_words <= {Q.GOPHER_MAX_WORDS})
      as r_word_count,
  (sum_word_len >= {Q.GOPHER_MIN_MEAN_LEN} * n_words
   and sum_word_len <= {Q.GOPHER_MAX_MEAN_LEN} * n_words) as r_mean_len,
  (10 * n_hash <= {Q.GOPHER_SYMBOL_RATIO_10} * n_words
   and 10 * n_ellipsis <= {Q.GOPHER_SYMBOL_RATIO_10} * n_words)
      as r_symbol,
  (10 * n_bullet_lines <= {Q.GOPHER_BULLET_RATIO_10} * n_lines)
      as r_bullet,
  (10 * n_ellipsis_lines <= {Q.GOPHER_ELLIPSIS_RATIO_10} * n_lines)
      as r_ellipsis,
  (5 * n_alpha_words >= {Q.GOPHER_ALPHA_RATIO_5} * n_words) as r_alpha,
  (n_stop_hits >= {Q.GOPHER_MIN_STOP_HITS}) as r_stop
 from counted)
select *, (r_word_count and r_mean_len and r_symbol and r_bullet
           and r_ellipsis and r_alpha and r_stop) as keep
from flagged
"""


_ORACLES["gopher_rules"] = f"""
with synth as (select doc_id, {_GOPHER_SYNTH} as text from documents),
q as ({_gopher_query('synth')})
select * from q
"""


def _gopher_rep_query(src: str) -> str:
    """gopher_repetition twin body over any (doc_id, text) relation
    ``src``: the same sorted-array adjacent-equality statistics via
    DuckDB's 1-based index lambdas, thresholds from the frozen
    constants."""
    from ocr_spark.operators import quality as Q

    def stats(arr: str, p: str) -> str:
        dup = (
            f"list_transform({arr}, (x, i) -> case when i > 1"
            f" and x = {arr}[i-1] then 1 else 0 end)"
        )
        dupc = (
            f"list_transform({arr}, (x, i) -> case when i > 1"
            f" and x = {arr}[i-1] then length(x) else 0 end)"
        )
        return f"""
  cast(len({arr}) as bigint) as n_{p}s,
  cast(coalesce(list_sum({dup}), 0) as bigint) as dup_{p}s,
  cast(coalesce(list_sum({dupc}), 0) as bigint) as dup_{p}_chars,
  cast(coalesce(list_sum(list_transform({arr}, x -> length(x))), 0)
       as bigint) as {p}_chars"""

    f10, c5 = int(Q.GOPHER_DUP_FRAC_10), int(Q.GOPHER_DUP_CHAR_FRAC_5)
    return f"""
with t as (select doc_id, coalesce(text, '') as txt from {src}),
arrs as (select doc_id,
  list_sort(string_split(txt, chr(10))) as sl,
  list_sort(string_split(txt, chr(10) || chr(10))) as sp
 from t),
counted as (select doc_id, {stats('sl', 'line')}, {stats('sp', 'para')}
 from arrs),
flagged as (select *,
  (10 * dup_lines <= {f10} * n_lines) as r_dup_lines,
  (5 * dup_line_chars <= {c5} * line_chars) as r_dup_line_chars,
  (10 * dup_paras <= {f10} * n_paras) as r_dup_paras,
  (5 * dup_para_chars <= {c5} * para_chars) as r_dup_para_chars
 from counted)
select *, (r_dup_lines and r_dup_line_chars and r_dup_paras
           and r_dup_para_chars) as keep
from flagged
"""


_ORACLES["gopher_repetition"] = f"""
with synth as (select doc_id, {_GOPHER_REP_SYNTH} as text from documents),
q as ({_gopher_rep_query('synth')})
select * from q
"""




def _c4_clean_query(src: str) -> str:
    """c4_clean twin body over any (doc_id, text) relation ``src``:
    every rule replayed from the SAME frozen constants in
    operators/quality.py — list_filter mirrors the Spark filter HOF,
    regexp semantics line up (RE2 '[.!?\"]$' on the rtrimmed line ==
    Java's, no MULTILINE in play), and the sentence counter is the same
    '[.!?]' extract-all length."""
    from ocr_spark.operators import quality as Q

    min_w, min_s = int(Q.C4_MIN_WORDS), int(Q.C4_MIN_SENTENCES)
    return f"""
with ls as (select doc_id, string_split(coalesce(text, ''), chr(10)) as ls
       from {src}),
kept as (select doc_id, cast(len(ls) as bigint) as n_lines,
                list_filter(ls, l ->
                    regexp_matches(rtrim(l), '{Q.C4_TERMINAL_RE}')
                    and len(regexp_split_to_array(trim(l), '\\s+'))
                        >= {min_w}
                    and not contains(lower(l), '{Q.C4_LINE_BAD}')) as kls
         from ls),
staged as (select doc_id, n_lines,
                  cast(len(kls) as bigint) as n_kept_lines,
                  array_to_string(kls, chr(10)) as text_clean
           from kept),
page as (select doc_id, n_lines, n_kept_lines,
                cast(len(regexp_extract_all(text_clean, '[.!?]'))
                     as bigint) as n_sentences,
                contains(lower(text_clean), '{Q.C4_PAGE_LOREM}')
                    as has_lorem,
                contains(text_clean, '{Q.C4_PAGE_BRACE}') as has_brace,
                text_clean
         from staged)
select doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
       (n_sentences >= {min_s} and not has_lorem and not has_brace)
           as keep,
       text_clean
from page
"""


_ORACLES["c4_clean"] = f"""
with synth as (select doc_id, {_C4_SYNTH} as text from documents),
q as ({_c4_clean_query('synth')})
select * from q
"""


def _c4_badwords_sql() -> str:
    """Twin of operators/quality.py c4_badword_filter, built from the
    SAME frozen C4_BADWORDS constant (list drift impossible)."""
    from ocr_spark.operators.quality import C4_BADWORDS

    inlist = ", ".join(f"'{w}'" for w in C4_BADWORDS)
    nt = _nt_of("coalesce(text, '')")  # null page = no tokens (c4 rule)
    hits = f"cast(len(list_filter({nt}, t -> t in ({inlist}))) as bigint)"
    return f"""
select doc_id, {hits} as n_bad_hits, {hits} = 0 as keep
from documents
"""


_ORACLES["c4_badwords"] = _c4_badwords_sql()
_ORACLES["lang_segments"] = _lang_segments_sql()
_ORACLES["gopher_ngram"] = _gopher_ngram_sql()
_ORACLES["fuzzy_decontaminate"] = f"""
with base as ({_incremental_minhash_sql(new_pred="doc_id % 2 = 1",
                                        threshold=0.0)}),
fda as (select a as doc_id, cast(count(*) as bigint) as n_eval_matches,
               max(jaccard) as max_jaccard from base group by a)
select d.doc_id,
       cast(coalesce(g.n_eval_matches, 0) as bigint) as n_eval_matches,
       coalesce(g.max_jaccard, 0.0) as max_jaccard,
       coalesce(g.max_jaccard, 0.0) >= 0.5 as contaminated
from documents d left join fda g using (doc_id)
where d.doc_id % 2 = 1
"""
# bloom_decontaminate twin: same 4-gram shingles as the decontaminate
# twin; the k=3 positions per gram are DISJOINT 40-bit slices of ONE
# md5(gram) digest (hex 1-10 / 11-20 / 21-30) mod 2^20 — '0x'||hex cast
# is the proven-parity bigint path.  The oracle keys the per-gram
# aggregation on the gram string where the Spark plan keys on the gram's
# array index: identical results because per-doc shingle sets are
# distinct (gi ↔ gram bijection within a doc).
_ORACLES["bloom_decontaminate"] = f"""
with t as (select doc_id, source, {_NT} as toks from documents),
s as (select doc_id, source,
             list_distinct(list_transform(range(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      || ' ' || toks[i+3])) as grams
      from t where len(toks) >= 4),
js as (select unnest(range(0, 3)) as j),
eg as (select distinct unnest(grams) as gram from s where source = 'src1'),
epos as (select distinct
                cast('0x' || substr(md5(gram), cast(1 + 10 * j as int), 10)
                     as bigint) % 1048576 as pos
         from eg cross join js),
tg as (select doc_id, cast(len(grams) as bigint) as n_grams,
              unnest(grams) as gram
       from s where source <> 'src1'),
probe as (select doc_id, n_grams, gram,
                 cast('0x' || substr(md5(gram), cast(1 + 10 * j as int), 10)
                      as bigint) % 1048576 as pos
          from tg cross join js),
g1 as (select doc_id, n_grams, gram,
              sum(case when epos.pos is not null then 1 else 0 end) as n_set
       from probe left join epos on probe.pos = epos.pos
       group by doc_id, n_grams, gram),
hd as (select doc_id, n_grams,
              cast(sum(case when n_set = 3 then 1 else 0 end) as bigint)
                  as n_hit_grams
       from g1 group by doc_id, n_grams)
select b.doc_id,
       cast(coalesce(hd.n_grams, 0) as bigint) as n_grams,
       cast(coalesce(hd.n_hit_grams, 0) as bigint) as n_hit_grams,
       coalesce(hd.n_hit_grams, 0) > 0 as contaminated
from (select distinct doc_id from documents where source <> 'src1') b
left join hd using (doc_id)
"""
# phrase_tag twin: the same corpus-derived lexicon (tokens 3-5 of every
# doc_id % 89 == 0 doc) and the same slot-cover vote — per-row positional
# unnest on both sides, join on term, start = pos - slot, a start owning
# all plen slots is a match.  Re-normalizing the joined phrase is
# idempotent (tokens are already lowercase/punct-free), so building the
# lexicon from toks slices directly is exact.
_ORACLES["phrase_tag"] = f"""
with t as (select doc_id, {_NT} as toks from documents),
lex as (select doc_id as phrase_id, toks[3:5] as pt
        from t where doc_id % 89 = 0),
lex2 as (select phrase_id, pt, cast(len(pt) as int) as plen
         from lex where len(pt) > 0),
s1 as (select phrase_id, plen, pt, unnest(range(1, plen + 1)) as j
       from lex2),
slots as (select phrase_id, plen, cast(j - 1 as bigint) as slot,
                 pt[cast(j as int)] as term
          from s1),
d1 as (select doc_id, toks, unnest(range(1, len(toks) + 1)) as p from t),
dtok as (select doc_id, cast(p - 1 as bigint) as pos,
                toks[cast(p as int)] as term
         from d1),
occ as (select d.doc_id, s.phrase_id, s.plen, d.pos - s.slot as start
        from dtok d join slots s using (term)),
starts as (select doc_id, phrase_id, plen, start,
                  count(*) as n_slots
           from occ where start >= 0
           group by doc_id, phrase_id, plen, start)
select doc_id, phrase_id,
       cast(count(*) as bigint) as n_matches,
       cast(min(start) as int) as first_pos
from starts where n_slots = plen
group by doc_id, phrase_id
"""

# unimax twins: the same closed-form integer water-fill — caps sorted
# ascending, k = longest prefix with cap*(L-rn)+S <= B (f nondecreasing =>
# prefix), capped langs get cap, the rest the identical floor share.
# B is derived from the data (sum tokens // 3) in BOTH engines.
_UNIMAX_CORE = f"""
t as (select doc_id, lang, cast(len({_NT}) as bigint) as tok
      from documents where lang is not null),
bb as (select sum(tok) // 3 as bv from t),
st as (select lang, cast(sum(tok) as bigint) as c from t group by lang),
caps as (select lang, c, c * 2 as cap from st),
w as (select lang, c, cap,
             cast(row_number() over (order by cap, lang) as bigint) as rn,
             cast(sum(cap) over (order by cap, lang
                  rows between unbounded preceding and current row)
                  as bigint) as s,
             cast(count(*) over () as bigint) as nl
      from caps),
fl as (select *, cap * (nl - rn) + s <= (select bv from bb) as ok from w),
kk as (select max(case when ok then rn else 0 end) as k,
              max(case when ok then s else 0 end) as sk from fl),
a as (select fl.lang, fl.c, fl.cap,
             case when fl.rn <= kk.k then fl.cap
                  else least(fl.cap,
                             cast(floor(((select bv from bb) - kk.sk)
                                        / (fl.nl - kk.k)) as bigint)) end
                 as alloc
      from fl, kk)
"""

_ORACLES["unimax_alloc"] = f"""
with {_UNIMAX_CORE}
select lang, c as n_tokens, cap, alloc,
       case when c = 0 then 0.0
            else round(cast(alloc as double) / c, 6) end as epochs
from a
"""

# unimax_plan twin: integral epoch split (// <-> Spark `div`), then the
# plain per-language window cumsum in hash order — exactly the Spark
# plan's (lang, bucket)-windowed prefix because bucket = substr(key,1,2)
# is a prefix of the ordering key.
_ORACLES["unimax_plan"] = f"""
with {_UNIMAX_CORE},
al as (select lang, alloc // c as e, alloc % c as rem from a where c > 0),
k2 as (select doc_id, lang, tok,
              substr(md5('42|' || cast(doc_id as varchar)), 1, 12) as kx
       from t),
fine as (select doc_id, lang, tok,
                cast(sum(tok) over (partition by lang order by kx, doc_id
                     rows between unbounded preceding and current row)
                     as bigint) as cend
         from k2)
select f2.doc_id, f2.lang, f2.tok as n_tokens,
       cast(al.e + case when f2.cend <= al.rem then 1 else 0 end
            as bigint) as n_copies
from fine f2 join al using (lang)
"""

_ORACLES["corpus_datasheet"] = f"""
with st as (select doc_id, source, lang,
                   cast(len({_RT}) as bigint) as ntok,
                   cast(length(coalesce(text, '')) as bigint) as nchr,
                   md5(array_to_string({_NT}, ' ')) as fp
            from documents),
fpc as (select fp, count(*) as fpn from st group by fp),
j as (select st.*, fpc.fpn from st join fpc using (fp))
select coalesce(source, '(all)') as source,
       coalesce(lang, '(all)') as lang,
       cast(count(*) as bigint) as n_docs,
       cast(sum(ntok) as bigint) as n_tokens,
       cast(sum(nchr) as bigint) as n_chars,
       cast(sum(case when fpn > 1 then 1 else 0 end) as bigint)
           as n_dup_docs,
       round(sum(case when fpn > 1 then 1 else 0 end) / count(*), 6)
           as dup_rate
from j group by rollup(source, lang)
"""

# quality_stack twin: the three stage twins composed exactly as the
# operator composes them — stages 2-3 read c4's text_clean.
_ORACLES["quality_stack"] = f"""
with synth as (select doc_id, {_STACK_SYNTH} as text from documents),
c4 as ({_c4_clean_query('synth')}),
clean as (select doc_id, text_clean as text from c4),
g as ({_gopher_query('clean', min_words=10)}),
r as ({_gopher_rep_query('clean')})
select c4.doc_id, c4.keep as c4_keep, g.keep as gopher_keep,
       r.keep as rep_keep,
       (c4.keep and g.keep and r.keep) as keep
from c4 join g using (doc_id) join r using (doc_id)
"""

# quality_stack_full twin: the funnel twins + the n-gram battery twin,
# all over the same c4-cleaned text, joined on doc_id.
_ORACLES["quality_full"] = f"""
with synth as (select doc_id, {_STACK_SYNTH} as text from documents),
c4 as ({_c4_clean_query('synth')}),
clean as (select doc_id, text_clean as text from c4),
g as ({_gopher_query('clean', min_words=10)}),
r as ({_gopher_rep_query('clean')}),
gn as ({_gopher_ngram_sql(src='clean')})
select c4.doc_id, c4.keep as c4_keep, g.keep as gopher_keep,
       r.keep as rep_keep, gn.keep as ngram_keep,
       (c4.keep and g.keep and r.keep and gn.keep) as keep
from c4 join g using (doc_id) join r using (doc_id) join gn using (doc_id)
"""

# epoch_shuffle twin (operators/sampling.py): identical md5(seed|epoch|
# doc_id) key, identical 12-hex-prefix shard, rank within (epoch, shard)
_ORACLES["epoch_shuffle"] = """
with e as (select unnest(range(0, 2)) as epoch),
k as (select e.epoch, d.doc_id,
             md5('42|' || cast(e.epoch as varchar) || '|'
                 || cast(d.doc_id as varchar)) as key
      from documents d cross join e),
s as (select epoch, doc_id, key,
             cast(('0x' || substr(key, 1, 12)) as bigint) % 8 as shard
      from k)
select epoch, shard,
       cast(row_number() over (partition by epoch, shard
                               order by key, doc_id) as bigint) as pos,
       doc_id
from s
"""


def _sampling_sqls() -> None:
    """Twins for the deterministic sampling family.  The predicate is the
    SAME 12-hex md5-prefix comparison the Spark operator plants (thresholds
    come from the one _threshold_hex implementation), so the kept set is
    bit-identical across engines by construction."""
    key = "substr(md5('42|' || cast(doc_id as varchar)), 1, 12)"

    def pred(frac: float) -> str:
        if frac <= 0.0:
            return "false"
        if frac >= 1.0:
            return "true"
        return f"{key} < '{SP._threshold_hex(frac)}'"

    whens = " ".join(
        f"when lang = '{v}' then {pred(fr)}"
        for v, fr in sorted(_STRATA_FRACS.items())
    )
    _ORACLES["sample_stratified"] = f"""
select doc_id, lang, source from documents
where case {whens} else {pred(_STRATA_DEFAULT)} end
"""
    srcs = ", ".join(f"'{s}'" for s in sorted(_MIX_BUDGETS))
    budget = " ".join(
        f"when source = '{s}' then {int(b)}"
        for s, b in sorted(_MIX_BUDGETS.items())
    )
    _ORACLES["corpus_mix"] = f"""
with t as (select doc_id, source, cast(len({_RT}) as bigint) as n_tokens,
                  {key} as k
           from documents where source in ({srcs})),
c as (select doc_id, source, n_tokens,
             cast(sum(n_tokens) over (partition by source order by k, doc_id
                  rows between unbounded preceding and current row) as bigint)
                 as cum_tokens
      from t)
select doc_id, source, n_tokens, cum_tokens from c
where cum_tokens - n_tokens < case {budget} end
"""


_sampling_sqls()


# reading_order twin (q_reading_order): the same md5(doc_id)-derived
# (n, header) layout parameters, with the XY-cut result asserted against
# its closed form on this geometry family — header rank 0, left column
# top-down, then right column.
_ORACLES["reading_order"] = """
with d as (
  select doc_id,
         2 + ascii(substr(md5(cast(doc_id as varchar)), 1, 1)) % 3 as n,
         case when ascii(substr(md5(cast(doc_id as varchar)), 2, 1)) % 2 = 0
              then 1 else 0 end as hdr
  from documents
),
blocks as (
  select doc_id, 0 as block_id, 0 as ord_rank from d where hdr = 1
  union all
  select d.doc_id, 100 + t.i, d.hdr + t.i
  from d cross join range(0, 4) t(i) where t.i < d.n
  union all
  select d.doc_id, 200 + t.i, d.hdr + d.n + t.i
  from d cross join range(0, 4) t(i) where t.i < d.n
)
select doc_id, cast(block_id as int) as block_id,
       cast(ord_rank as int) as ord_rank
from blocks
"""


# phrase_search twin: the same slot-cover formulation over the same
# normalized tokens and the same frozen phrase.
_ORACLES["phrase_search"] = f"""
with t as (select doc_id, {_NT} as toks from documents),
e as (select doc_id, toks, unnest(range(1, len(toks) + 1)) as i from t),
tk as (select doc_id, cast(i - 1 as int) as pos, toks[i] as term from e
       where toks[i] in ({", ".join(f"'{w}'" for w in sorted(set(_PHRASE)))})),
sl as (select * from (values {", ".join(f"({i}, '{w}')" for i, w in enumerate(_PHRASE))}) s(slot, term)),
occ as (select tk.doc_id, tk.pos - sl.slot as start, sl.slot
        from tk join sl on tk.term = sl.term
        where tk.pos - sl.slot >= 0),
st as (select doc_id, start from occ
       group by doc_id, start having count(distinct slot) = {len(_PHRASE)})
select doc_id, cast(count(*) as bigint) as n_matches,
       cast(min(start) as int) as first_pos
from st group by doc_id
"""


# cdc_chunks twin: identical md5-prefix boundary rule, running boundary
# count strictly-before the current token, ordered string_agg assembly.
_ORACLES["cdc_chunks"] = f"""
with t as (select doc_id, {_NT} as toks from documents),
e as (select doc_id, toks, unnest(range(1, len(toks) + 1)) as i from t),
tk as (select doc_id, cast(i - 1 as bigint) as pos, toks[i] as tok from e),
f as (select doc_id, pos, tok,
             case when cast('0x' || substr(md5(tok), 1, 4) as bigint) % 8 = 0
                  then 1 else 0 end as flag
      from tk),
c as (select doc_id, pos, tok,
             cast(coalesce(sum(flag) over (partition by doc_id order by pos
                  rows between unbounded preceding and 1 preceding), 0)
                  as bigint) as cid
      from f),
ch as (select doc_id, cid, string_agg(tok, ' ' order by pos) as chunk_text,
              cast(count(*) as bigint) as n_toks
       from c group by doc_id, cid)
select md5(chunk_text) as fp, cast(count(*) as bigint) as n_copies,
       cast(count(distinct doc_id) as bigint) as n_docs,
       cast(min(n_toks) as bigint) as n_toks
from ch group by md5(chunk_text)
"""


# winnow_overlap twin: the same packed-key robust winnowing — 40-bit
# md5-prefix gram hashes packed as h*2^20 + (2^20-1-pos) so DuckDB's
# window min selects the identical (hash, rightmost-pos) per window,
# then the same distinct/guard/pair-count chain.
_ORACLES["winnow_overlap"] = f"""
with t as (select doc_id, {_NT} as toks from documents),
e as (select doc_id, toks, unnest(range(1, len(toks) + 1)) as i from t),
g as (select doc_id, cast(i - 1 as bigint) as pos,
             cast('0x' || substr(
                 md5(array_to_string(toks[i : i + 4], ' ')), 1, 10)
                 as bigint) * 1048576 + (1048575 - (i - 1)) as key
      from e where i + 4 <= len(toks) and i - 1 < 1048576),
s as (select doc_id,
             min(key) over (partition by doc_id order by pos
                  rows between current row and 3 following) as skey,
             lead(key, 3) over (partition by doc_id order by pos) as fullk
      from g),
fp as (select distinct doc_id, skey // 1048576 as fp
       from s where fullk is not null),
ok as (select fp from fp group by fp having count(*) <= 1000),
slim as (select doc_id, fp from fp join ok using (fp))
select x.doc_id as a, y.doc_id as b, cast(count(*) as bigint) as shared
from slim x join slim y using (fp)
where x.doc_id < y.doc_id
group by a, b having count(*) >= 2
"""


# warc_records twin (q_warc_records): the serialization is deterministic,
# so the expected parse has a closed form — one response record per doc,
# rec_idx = doc_id rank within its file, payload 'doc-<id>:<md5(text)>'.
_ORACLES["warc_records"] = """
with d as (
  select doc_id, doc_id % 50 as file_id,
         'doc-' || doc_id || ':' || md5(text) as payload
  from documents
)
select file_id,
       cast(row_number() over (partition by file_id order by doc_id) - 1
            as int) as rec_idx,
       'response' as warc_type,
       'https://example.org/doc/' || doc_id as target_uri,
       'text/plain' as content_type,
       cast(length(payload) as bigint) as content_length,
       payload,
       true as parse_ok
from d
"""


# ---------------------------------------------------------------------------
# contract entry points
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: span extraction over the
    flat documents table (driver checks rows > 0, stable schema)."""
    return q_span_extract(spark, "/root/testdata/sf0.001")


def _contract_fixture() -> str:
    """Path of the deterministic 200-doc contract spans table shared by the
    contract_* driver queries AND their DuckDB oracles (the oracle SQL
    reads it via read_parquet, so oracle_sql() also materializes it —
    whichever side the driver runs first finds the table)."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), "ocr_spark_contract_sf001.parquet"
    )
    if not os.path.exists(path):
        from ocr_spark import datagen

        datagen.generate_to_path(path, n_docs=200, seed=42, scramble=True)
    return path


def _pack_interleaved_sql(path: str, seq_len: int = 64, n_groups: int = 16) -> str:
    """pack_interleaved twin (operators/packing.py): composes the
    contract-extract twin (span-sequence rows), rebuilds each doc's
    (tok, ref) unit stream in offset order, then replays the
    pack_sequences window math over md5 hash groups."""
    return f"""
with sp as ({_contract_extract_sql(path)}),
d as (select doc_id,
             list(struct_pack(tok := case when kind = 'text' then text
                                          else '<media>' end,
                              ref := media_ref) order by "offset") as units
      from sp group by doc_id),
k as (select doc_id, units, len(units) as n,
             cast('0x' || substr(md5('42|' || doc_id), 1, 12) as bigint)
                 % {n_groups} as grp,
             substr(md5('42|' || doc_id), 1, 12) as kk
      from d),
o as (select grp, units, n,
             cast(sum(n) over (partition by grp order by kk, doc_id
                  rows between unbounded preceding and current row) - n
                  as bigint) as start
      from k where n > 0),
s as (select grp, units, n, start,
             unnest(range(cast(floor(start / {seq_len}.0) as bigint),
                          cast(floor((start + n - 1) / {seq_len}.0)
                               as bigint) + 1)) as win_id
      from o),
p as (select grp, win_id, start,
             units[cast(greatest(win_id * {seq_len} - start, 0) + 1
                        as bigint) :
                   cast(least((win_id + 1) * {seq_len} - start, n)
                        as bigint)] as piece
      from s),
a as (select grp, win_id, flatten(list(piece order by start)) as u
      from p group by grp, win_id)
select grp, win_id,
       cast(len(u) as bigint) as n_tokens,
       cast(len(list_filter(u, x -> x.ref is not null)) as bigint)
           as n_media,
       array_to_string(list_transform(u, x -> x.tok), ' ') as text,
       coalesce(array_to_string(list_transform(list_filter(u,
           x -> x.ref is not null), x -> x.ref), ' '), '') as media_refs
from a
"""


def _q_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal interleaved sequence packing (operators/packing.py
    pack_interleaved) over the real extraction kernel's output — the
    BASELINE.json 'interleaved text+media' axis carried through to the
    training-sample assembly."""
    from ocr_spark.operators.extract import extract_documents
    from ocr_spark.operators.packing import pack_interleaved

    out = extract_documents(
        spark.read.parquet(_contract_fixture()), order_by="meta"
    )
    return pack_interleaved(out)


def _q_contract_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real Arrow extraction kernel on the contract spans table,
    exploded back to the BASELINE.json span-sequence-equality projection
    (kind, text, media_ref, offset).  Exact DuckDB twin: the
    contract_extract entry of oracle_sql()."""
    from ocr_spark.operators.extract import extract_documents

    path = _contract_fixture()
    out = extract_documents(spark.read.parquet(path), order_by="meta")
    return out.select(
        "doc_id", F.posexplode("spans").alias("i", "s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")


def _q_media_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image–text pair mining (operators/multimodal.py caption_pairs)
    over the REAL interleaved extraction output: kernel → span sequence →
    nearest-8-words-per-side captions for every media span.  Exact DuckDB
    twin composes the contract-extract twin with the same window math."""
    from ocr_spark.operators.multimodal import caption_pairs

    return caption_pairs(_q_contract_extract(spark, sf_dir), window=8)


def _media_captions_sql(path: str, window: int = 8) -> str:
    """caption_pairs twin: the contract-extract span projection, two
    bounded string_agg window frames (NULL-skipping, like Spark's
    collect_list of a CASE), longer-side-wins caption with before on
    ties."""
    return f"""
with ce as ({_contract_extract_sql(path)}),
cap as (
  select doc_id, kind, media_ref,
         coalesce(string_agg(case when kind = 'text' then text end, ' ')
             over (partition by doc_id order by "offset"
                   rows between {window} preceding and 1 preceding),
             '') as cap_before,
         coalesce(string_agg(case when kind = 'text' then text end, ' ')
             over (partition by doc_id order by "offset"
                   rows between 1 following and {window} following),
             '') as cap_after
  from ce)
select doc_id, media_ref, cap_before, cap_after,
       case when len(cap_after) > len(cap_before) then cap_after
            else cap_before end as caption
from cap where kind = 'media_ref'
"""


def _q_contract_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline (extract → fingerprint → exact dedup →
    minhash-LSH near-dup removal → quality gate) on the deterministic
    contract table.  Exact DuckDB twin: the contract_curate entry of
    oracle_sql(); stage semantics additionally pytest-verified
    (tests/test_curate.py)."""
    from ocr_spark.jobs.curate import curate

    out, _ = curate(spark.read.parquet(_contract_fixture()))
    return out.select("doc_id", "fp", "n_words", "n_tokens")


def _q_contract_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 binary ingest end-to-end: binaryFile scan of generated
    pdfx/zip containers → page split → O1/O2 ordering → hOCR parse →
    spans.  Rows-only driver check; ordering semantics are pytest-gated
    (tests/test_ingest.py)."""
    import os
    import tempfile

    from ocr_spark.sources.hocr import render_hocr
    from ocr_spark.sources.ingest import ingest_spans, write_pdfx, write_zip

    d = os.path.join(tempfile.gettempdir(), "ocr_spark_ingest_fixture")
    if not os.path.isdir(d):
        # build in a temp dir, then atomic rename — the cached fixture
        # persists across runs and a half-built dir would poison them
        tmp = f"{d}.tmp-{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        words = ["tribunal", "supremo", "acordam", "processo", "recurso"]
        for k in range(8):
            pages = []
            for p in range(4 + k % 3):
                ir = [[
                    [
                        {"text": words[(k + p + i) % len(words)],
                         "box": [10.0 + 60 * i, 10.0, 60.0 + 60 * i, 30.0],
                         "b": 0.0, "confidence": 90, "font": None}
                        for i in range(6)
                    ]
                ]]
                pages.append(render_hocr(ir, page_no=p).encode())
            if k % 2 == 0:
                write_pdfx(os.path.join(tmp, f"doc{k}.pdfx"), pages)
            else:
                write_zip(
                    os.path.join(tmp, f"doc{k}.zip"),
                    {f"page_{p}.png": pg for p, pg in enumerate(pages)},
                )
        try:
            os.rename(tmp, d)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(d):
                raise
    return ingest_spans(spark, d)


def _q_contract_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10/multimodal full surface over the contract table's media spans:
    REAL PNG payloads → real decode → features + resize (real pixel
    resample), frame sampling of an MJPEG-in-AVI video per doc, and
    (r4) REAL WAV payloads → real decode → integer audio rollups.
    Rows-only driver check; the codecs themselves are exact-oracled via
    png_roundtrip / wav_features and pytest-gated
    (tests/test_png.py, test_wav.py, test_streaming_multimodal.py)."""
    from ocr_spark.operators import multimodal as MM

    docs = spark.read.parquet(_contract_fixture())
    media = MM.synth_media_for_spans(docs)
    feats = MM.extract_media_features(media)
    resized = MM.resize_media(media, max_px=100)
    frames = MM.sample_frames(
        MM.synth_video_for_refs(
            media.select("doc_id", "media_ref")
            .orderBy("doc_id", "media_ref")
            .limit(50),
            n_frames=24,
        ),
        every_n=8,
    )
    audio = MM.extract_audio_features(
        MM.synth_audio_for_refs(
            media.select("doc_id", "media_ref")
            .orderBy("doc_id", "media_ref")
            .limit(50),
            n_samples=2000,
        )
    )
    per_doc = (
        feats.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .join(
            resized.groupBy("doc_id").agg(
                F.max("out_width").alias("max_out_w"),
                F.max("out_height").alias("max_out_h"),
            ),
            "doc_id",
        )
        .join(
            frames.groupBy("doc_id").agg(
                F.count("*").alias("n_frames_sampled")
            ),
            "doc_id",
            "left",
        )
        .join(
            audio.groupBy("doc_id").agg(
                F.sum("sum_abs").alias("audio_sum_abs"),
                F.max("peak").alias("audio_peak"),
            ),
            "doc_id",
            "left",
        )
        .na.fill({"n_frames_sampled": 0, "audio_sum_abs": 0, "audio_peak": 0})
    )
    return per_doc.orderBy("doc_id")


def _q_contract_mets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 METS manifests over the contract table: ALTO page artifacts are
    derived from the extraction IR (md5/size computed where the content
    lives), IMG entries from the media spans, then one METS XML per doc.
    Rows-only driver check; XML structure is golden-tested
    (tests/test_mets.py)."""
    from ocr_spark.sources.exporters import mets_documents

    docs = spark.read.parquet(_contract_fixture())
    # pages: synthesize one ALTO + one IMG artifact per 100-span block
    pages = docs.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.ceil(F.size("spans") / 100), F.lit(1))
            )
        ).alias("seq"),
    )
    base = pages.select(
        "doc_id",
        F.lit("2026-03-01 00:00:00").cast("timestamp").alias("creation"),
        "seq",
    )
    alto = base.select(
        "*",
        F.lit("ALTO").alias("grp"),
        F.concat(F.lit("alto_schemas/p"), F.col("seq").cast("string"),
                 F.lit(".xml")).alias("href"),
        F.lit("text/xml").alias("mimetype"),
    )
    img = base.select(
        "*",
        F.lit("IMG").alias("grp"),
        F.concat(F.lit("_pages/p"), F.col("seq").cast("string"),
                 F.lit(".png")).alias("href"),
        F.lit("image/png").alias("mimetype"),
    )
    arts = alto.unionByName(img).select(
        "doc_id", "creation", "grp", "seq", "href",
        F.length("href").cast("bigint").alias("size"),
        F.md5(F.concat("doc_id", "href").cast("binary")).alias("md5"),
        "mimetype",
    )
    return mets_documents(arts).select(
        "doc_id", F.length("mets_xml").cast("bigint").alias("mets_len")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "span_extract": q_span_extract,
        "word_index": q_word_index,
        "word_count": q_word_count,
        "vocab_topk": q_vocab_topk,
        "dict_semi_join": q_dict_semi_join,
        "doc_fingerprint": q_doc_fingerprint,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "bpe_token_count": q_bpe_token_count,
        "events_json": q_events_json,
        "doclen_histogram": q_doclen_histogram,
        "distinct_stats": q_distinct_stats,
        "vocab_hll": q_vocab_hll,                   # sketch — error-bound pytest
        "vocab_heavy_hitters": q_vocab_heavy_hitters,  # sketch — containment pytest
        "doclen_quantile_sketch": q_doclen_quantile_sketch,  # sketch — error-bound pytest
        "sample_stratified": q_sample_stratified,
        "corpus_mix": q_corpus_mix,
        "tfidf_top": q_tfidf_top,
        "price_quantiles": q_price_quantiles,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_components": q_dedup_components,
        "dedup_canonical": q_dedup_canonical,
        "train_split": q_train_split,
        "epoch_shuffle": q_epoch_shuffle,
        "web_curate": q_web_curate,
        "chunk_dedup": q_chunk_dedup,
        "doc_repetition": q_doc_repetition,
        "dedup_incremental": q_dedup_incremental,
        "substring_scrub": q_substring_scrub,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "pack_sequences": q_pack_sequences,
        "shard_stats": q_shard_stats,
        "domain_pagerank": q_domain_pagerank,
        "domain_trustrank": q_domain_trustrank,
        "domain_hits": q_domain_hits,
        "winnow_overlap": q_winnow_overlap,
        "vocab_drift": q_vocab_drift,
        "corpus_jsd": q_corpus_jsd,
        "compression_ratio": q_compression_ratio,  # rows-only: zlib kernel
        "c4_clean": q_c4_clean,
        "fix_text": q_fix_text,  # rows-only: transcoding kernel
        "jsonl_export": q_jsonl_export,
        "gopher_rules": q_gopher_rules,
        "gopher_repetition": q_gopher_repetition,
        "quality_stack": q_quality_stack,
        "quality_full": q_quality_full,
        "html_extract": q_html_extract,
        "html_tables": q_html_tables,
        "html_markdown": q_html_markdown,
        "fetch_to_markdown": q_fetch_to_markdown,
        "zorder_layout": q_zorder_layout,
        "session_windows": q_session_windows,
        "html_outline": q_html_outline,
        "alto_words": q_alto_words,
        "hocr_export": q_hocr_export,
        "pdf_export": q_pdf_export,
        "size_humanize": q_size_humanize,
        "ocr_eta": q_ocr_eta,
        "path_safety": q_path_safety,
        "chunk_assembly": q_chunk_assembly,
        "export_bundle": q_export_bundle,
        "ner_entities": q_ner_entities,
        "raster_segments": q_raster_segments,
        "png_roundtrip": q_png_roundtrip,
        "jpeg_roundtrip": q_jpeg_roundtrip,
        "media_dims": q_media_dims,
        "avi_frames": q_avi_frames,
        "gif_roundtrip": q_gif_roundtrip,
        "bmp_roundtrip": q_bmp_roundtrip,
        "raster_from_png": q_raster_from_png,   # rows-only: no SQL Otsu/CCL
        "adopt_registry": q_adopt_registry,
        "wav_features": q_wav_features,
        "document_bundle": q_document_bundle,
        "postings_codec": q_postings_codec,
        "http_meta": q_http_meta,
        "html_links": q_html_links,
        "link_edges": q_link_edges,
        "anchor_terms": q_anchor_terms,
        "c4_badwords": q_c4_badwords,
        "frontier_plan": q_frontier_plan,
        "robots_rules": q_robots_rules,
        "robots_filter": q_robots_filter,
        "robots_sitemaps": q_robots_sitemaps,
        "html_meta": q_html_meta,
        "canonical_dedup": q_canonical_dedup,
        "lang_segments": q_lang_segments,
        "gopher_ngram": q_gopher_ngram,
        "sitemap_urls": q_sitemap_urls,
        "sitemap_seeds": q_sitemap_seeds,
        "recrawl_diff": q_recrawl_diff,
        "corpus_datasheet": q_corpus_datasheet,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "bloom_decontaminate": q_bloom_decontaminate,
        "unimax_alloc": q_unimax_alloc,
        "unimax_plan": q_unimax_plan,
        "phrase_tag": q_phrase_tag,
        "spam_mass": q_spam_mass,
        "domain_communities": q_domain_communities,
        "link_features": q_link_features,
        "crawl_plan": q_crawl_plan,
        "domain_cap": q_domain_cap,
        "lm_quality": q_lm_quality,
        "nb_quality": q_nb_quality,
        "dsir_select": q_dsir_select,
        "bigram_lm": q_bigram_lm,
        "ccnet_buckets": q_ccnet_buckets,
        "rag_chunks": q_rag_chunks,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "simhash_neardup": q_simhash_neardup,
        "media_neardup": _q_media_neardup,          # binary kernel seam — rows-only
        "domain_stats": q_domain_stats,
        "url_dedup": q_url_dedup,
        "domain_filter": q_domain_filter,
        "line_dedup": q_line_dedup,
        "inverted_index": q_inverted_index,
        "word_pages_raw": q_word_pages_raw,
        "reading_order": q_reading_order,
        "warc_records": q_warc_records,
        "warc_html": q_warc_html,
        "phrase_search": q_phrase_search,
        "cdc_chunks": q_cdc_chunks,
        "ann_topk": q_ann_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,  # approximate — no oracle
        "ann_lsh": q_ann_lsh,                       # approximate — no oracle
        "ann_ivf": q_ann_ivf,                       # approximate — no oracle
        "ann_ivf_fullprobe": q_ann_ivf_fullprobe,   # exact at n_probe=n_centroids
        "ann_pq": q_ann_pq,                         # approximate — recall pytest
        "ann_pq_fullrefine": q_ann_pq_fullrefine,   # exact at shortlist=N
        "ann_ivfpq": q_ann_ivfpq,                   # approximate — recall pytest
        "ann_ivfpq_full": q_ann_ivfpq_full,         # exact at full probe+shortlist
        "kmeans_assign": q_kmeans_assign,           # exact single step, SQL twin
        "kmeans_clusters": q_kmeans_clusters,       # exact 5-round unrolled twin
        "bpe_pair_counts": q_bpe_pair_counts,       # exact round-1 agg, SQL twin
        "bpe_merges": q_bpe_merges,                 # exact 10-round unrolled twin
        "bpe_encode": q_bpe_encode,                 # exact unrolled-train+apply twin
        "semantic_dedup": q_semantic_dedup,         # exact (seed-centroid), SQL twin
        "contract_extract": _q_contract_extract,    # exact SQL twin + pytest
        "media_captions": _q_media_captions,
        "pack_interleaved": _q_pack_interleaved,    # exact SQL twin + pytest
        "contract_curate": _q_contract_curate,      # exact SQL twin + pytest
        "contract_ingest": _q_contract_ingest,      # pytest-oracled — binary input, no SQL
        "contract_mets": _q_contract_mets,          # pytest-oracled — no SQL
        "contract_media": _q_contract_media,        # pytest-oracled — binary input, no SQL
        "q1_pricing": R.q1_pricing_summary,
        "q3_topk": R.q3_shipping_topk,
        "q5_region_revenue": R.q5_region_revenue,
        "q7_volume_shipping": R.q7_volume_shipping,
        "q10_returned_items": R.q10_returned_items,
        "window_top_customers": R.window_top_customers,
        "rollup_nation_region": R.rollup_nation_region,
        "setop_customer_churn": R.setop_customer_churn,
        "events_windowed": R.events_windowed,
        "asof_join": R.asof_join_events_orders,
        "tokenize_asciifold": q_tokenize_asciifold,
        "filename_index": q_filename_index,
        "fuzzy_dict": q_fuzzy_dict,
        "dict_check": q_dict_check,
        "multi_match": q_multi_match,
        "bm25_rank": q_bm25_rank,
        "more_like_this": q_more_like_this,
        "kwic_snippets": q_kwic_snippets,
        "compaction_plan": q_compaction_plan,
        "export_csv": q_export_csv,
        "export_txt_delim": q_export_txt_delim,
        "sessionize": R.sessionize_events,
        "above_cust_avg": R.orders_above_cust_avg,
        "range_join": R.events_in_order_windows,
        "q4_exists": R.q4_priority_exists,
        "q13_custdist": R.q13_custdist,
        "q18_large_volume": R.q18_large_volume,
        "q22_dormant": R.q22_dormant_customers,
        "q14_promo": R.q14_promo_revenue,
        "q15_top_supplier": R.q15_top_supplier,
        "q17_small_qty": R.q17_small_quantity,
        "q19_disjunctive": R.q19_disjunctive_join,
        "q21_waiting": R.q21_waiting_supplier,
        "q2_min_cost": R.q2_min_cost_supplier,
        "q6_forecast": R.q6_forecast_revenue,
        "q8_market_share": R.q8_market_share,
        "q9_product_profit": R.q9_product_profit,
        "q11_important_stock": R.q11_important_stock,
        "q12_priority_lag": R.q12_priority_lag,
        "q16_supplier_cnt": R.q16_supplier_cnt,
        "q20_excess_supplier": R.q20_excess_supplier,
    }


# Python str.strip() whitespace — the Arrow kernel strips full whitespace
# when testing span emptiness and page text, while Catalyst F.trim (and the
# _NT/_RT fragments mirroring it) strips spaces only.  The contract oracles
# must keep both behaviors distinct.
_PY_WS = " \t\n\r\x0b\x0c"


def _contract_extract_sql(path: str) -> str:
    """Exact DuckDB twin of the full extraction kernel's span projection
    (operators/extract.py::extract_documents, order_by='meta'): zip spans
    with the meta sidecar, drop boilerplate and empty text spans
    (parse_hocr.py:67-69 analog), ocr_image → text, reconstruct reading
    order from the layout keys (O1-O5) and re-rank offsets densely."""
    return f"""
with z as (
  select doc_id, unnest(spans) as s, unnest(meta) as m
  from read_parquet('{path}')
),
f as (
  select doc_id,
         s.kind as k0, s.text as t0, s.media_ref as mr,
         m.page_no as pg, m.segment_pos as sg, m.para_pos as pa,
         m.line_pos as ln, m.word_pos as wd, s.offset as orig_off
  from z
  where s.kind <> 'boilerplate'
    and (s.kind not in ('text', 'ocr_image')
         or (s.text is not null and trim(s.text, '{_PY_WS}') <> ''))
)
select doc_id,
       case when k0 in ('text', 'ocr_image') then 'text'
            else 'media_ref' end as kind,
       case when k0 in ('text', 'ocr_image') then t0 end as text,
       case when k0 in ('text', 'ocr_image') then cast(null as varchar)
            else mr end as media_ref,
       cast(row_number() over (partition by doc_id
            order by pg, sg, pa, ln, wd, orig_off) - 1 as int) as offset
from f
"""


def _contract_curate_sql(
    path: str,
    jaccard_threshold: float = 0.5,
    min_tokens: int = 5,
    max_stop_ratio: float = 0.6,
    token_len_band: tuple[float, float] = (1.0, 20.0),
    k: int = 16,
    bands: int = 8,
    max_bucket: int = 1000,
) -> str:
    """Exact DuckDB twin of jobs/curate.py::curate over the contract table:

    1. doc_text assembly exactly as the kernel/pandas-oracle defines it
       (words ' ' by word_pos, lines '\\n' by line_pos, paragraphs '\\n\\n'
       by (segment_pos, para_pos), per-page strip + trailing '\\n\\n',
       pages 1..max(page_no) — absent pages contribute a bare '\\n\\n');
    2. n_words = kept text-path spans (file.py:536-549 analog);
    3. fp = md5 of space-joined normalized tokens; exact dedup keeps the
       min doc_id per fp;
    4. minhash-LSH near-dup removal (same signature/banding scheme as the
       dedup_minhash_lsh oracle, incl. the 2..max_bucket degenerate-bucket
       guard) — the larger doc_id of each verified >= threshold pair drops;
    5. quality gate on analyzer tokens: n_tokens >= {min_tokens},
       stop_ratio <= {max_stop_ratio}, avg token length in band.

    n_raw deliberately uses the UNfiltered whitespace split of the
    space-only-trimmed text (Catalyst F.split(F.trim(x))): doc_text always
    ends '\\n\\n', so the split carries a trailing empty token — the Spark
    pipeline counts it in n_raw and so must the oracle."""
    rows = k // bands
    band_key = " || '|' || ".join(
        f"cast(sig[band * {rows} + {r + 1}] as varchar)" for r in range(rows)
    )
    an = _analyzer_sql()
    lo, hi = token_len_band
    return f"""
with z as (
  select doc_id, unnest(spans) as s, unnest(meta) as m
  from read_parquet('{path}')
),
w as (
  select doc_id, m.page_no as pg, m.segment_pos as sg, m.para_pos as pa,
         m.line_pos as ln, m.word_pos as wd, s.offset as o, s.text as wt
  from z
  where s.kind in ('text', 'ocr_image') and s.text is not null
        and trim(s.text, '{_PY_WS}') <> ''
),
nw as (select doc_id, count(*) as n_words from w group by doc_id),
npg as (select doc_id, max(m.page_no) as n_pages from z group by doc_id),
lines as (select doc_id, pg, sg, pa, ln,
                 string_agg(wt, ' ' order by wd, o) as lt
          from w group by doc_id, pg, sg, pa, ln),
paras as (select doc_id, pg, sg, pa,
                 string_agg(lt, chr(10) order by ln) as pt
          from lines group by doc_id, pg, sg, pa),
pagetxt as (select doc_id, pg,
                   string_agg(pt, chr(10) || chr(10) order by sg, pa) as gt
            from paras group by doc_id, pg),
allpages as (select doc_id, unnest(range(1, n_pages + 1)) as p from npg),
assembled as (
  select ap.doc_id,
         string_agg(coalesce(trim(pt2.gt, '{_PY_WS}'), '')
                    || chr(10) || chr(10), '' order by ap.p) as text
  from allpages ap
  left join pagetxt pt2 on pt2.doc_id = ap.doc_id and pt2.pg = ap.p
  group by ap.doc_id
),
fpt as (
  select a.doc_id, a.text, cast(nw.n_words as bigint) as n_words,
         md5(array_to_string({_NT}, ' ')) as fp
  from assembled a join nw using (doc_id)
  where nw.n_words > 0
),
reps as (select fp, min(doc_id) as rep from fpt group by fp),
exact as (select f.* from fpt f
          join reps r on f.fp = r.fp and f.doc_id = r.rep),
toks as (select doc_id, {_NT} as t from exact),
sh as (select doc_id,
              list_distinct(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) as shingles
       from toks where len(t) >= 3),
mh as (select doc_id, shingles,
              list_transform(list_transform(shingles, s2 -> md5(s2)),
                  m -> struct_pack(
                      h1 := cast(('0x' || substr(m, 1, 15)) as bigint)
                            % {_MH_P},
                      h2 := cast(('0x' || substr(m, 17, 15)) as bigint)
                            % {_MH_P - 1} + 1)) as mh
       from sh),
sig as (select doc_id,
               list_transform(range(0, {k}),
                   h -> list_min(list_transform(mh,
                        x -> (x.h1 + h * x.h2) % {_MH_P}))) as sig
        from mh),
banded as (select doc_id, unnest(range(0, {bands})) as band, sig from sig),
bk as (select doc_id, band, md5({band_key}) as band_key from banded),
bksz as (select band, band_key, count(*) as n
         from bk group by band, band_key),
bkok as (select bk.doc_id, bk.band, bk.band_key
         from bk join bksz using (band, band_key)
         where bksz.n between 2 and {max_bucket}),
cand as (select distinct x.doc_id as a, y.doc_id as b
         from bkok x join bkok y
           on x.band = y.band and x.band_key = y.band_key
         where x.doc_id < y.doc_id),
shingle as (select doc_id, unnest(shingles) as shingle from sh),
sizes as (select doc_id, count(*) as n_sh from shingle group by doc_id),
inter as (select p.a, p.b, count(*) as inter
          from cand p
          join shingle s1 on s1.doc_id = p.a
          join shingle s2 on s2.doc_id = p.b and s2.shingle = s1.shingle
          group by p.a, p.b),
losers as (select distinct i.b as doc_id
           from inter i
           join sizes sa on sa.doc_id = i.a
           join sizes sb on sb.doc_id = i.b
           where cast(i.inter as double) / (sa.n_sh + sb.n_sh - i.inter)
                 >= {jaccard_threshold}),
surv as (select ex.* from exact ex
         left join losers l using (doc_id) where l.doc_id is null),
q as (select doc_id, fp, n_words,
             {an} as toks2,
             len(regexp_split_to_array(trim(text), '\\s+')) as n_raw
      from surv),
q2 as (select doc_id, fp, n_words,
              cast(len(toks2) as int) as n_tokens,
              cast(n_raw - len(toks2) as double)
                  / greatest(n_raw, 1) as stop_ratio,
              case when len(toks2) > 0
                   then cast(list_sum(list_transform(toks2,
                            t -> length(t))) as double) / len(toks2)
                   else 0.0 end as avg_len
       from q)
select doc_id, fp, n_words, n_tokens
from q2
where n_tokens >= {min_tokens} and stop_ratio <= {max_stop_ratio}
      and avg_len between {lo} and {hi}
"""


def oracle_sql() -> dict[str, str]:
    # the contract oracles read the fixture directly from disk, so fetching
    # the oracle map materializes it — the driver may run either side first
    path = _contract_fixture()
    return {
        **_ORACLES,
        "contract_extract": _contract_extract_sql(path),
        "contract_curate": _contract_curate_sql(path),
        "pack_interleaved": _pack_interleaved_sql(path),
        "media_captions": _media_captions_sql(path),
    }
